"""clientpositive `.q` slice, round 8: the stats family — the
reference's own tests for the StatsOptimizer path built in r7
(reference: ql/src/test/queries/clientpositive/metadata_only_queries.q,
metadata_only_queries_with_filters.q, stats0.q-stats19.q,
stats_invalidation.q; engine: StatsOptimizer.java behind
hive.compute.query.using.stats).

Replayed shapes: count(*)/count(1)/count(col), min/max, sum(literal),
interleaved constant select items, PARTITIONED tables (per-partition
stats aggregated over the pruned list), partition-column WHERE filters
— each diffed against DuckDB over the same rows AND plan-asserted
(stats-answered = LocalTableScan, no scan, no aggregate).
The must-NOT-answer boundaries the goldens pin: un-analyzed columns,
data-column predicates, GROUP BY, expressions over aggregates, and
partitions without stats — all fall back to real execution with
correct values.

Since r8 the engine also autogathers basic stats on its own INSERTs
(hive.stats.autogather=true — tests/test_stats_autogather.py), so
goldens that answer pre-ANALYZE replay directly when the data arrives
via engine DML; fixtures seeded by EXTERNAL parquet writes (like this
module's) still need the explicit ANALYZE, exactly as Hive does for
files that arrive outside stats-aware writes.
"""

from __future__ import annotations

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine, TableDesc
from hive_2_3_2_spark.plans import explain_str

from tests.conftest import assert_matches_oracle

# over10k-parity shape (subset): numeric spread + strings + booleans +
# NULLs in several columns. Deterministic.
ROWS = []
for idx in range(300):
    t = idx % 70
    ROWS.append((
        t,
        (idx * 7) % 256 if idx % 11 else None,          # si with NULLs
        idx - 150,                                       # i
        idx * 1_000_003,                                 # b
        float(idx) / 4 if idx % 13 else None,            # f with NULLs
        float(idx) * 2.5,                                # d
        bool(idx % 2) if idx % 17 else None,             # bo with NULLs
        f"s_{idx % 37}" if idx % 5 else None,            # s with NULLs
        idx % 97,                                        # ts (unanalyzed)
    ))
SCHEMA = ("t int, si int, i int, b bigint, f float, d double, "
          "bo boolean, s string, ts int")
_COLS = "t, si, i, b, f, d, bo, s"  # analyzed set — ts deliberately out


def _is_stats_answered(df) -> bool:
    plan = explain_str(df)
    return (
        "LocalTableScan" in plan
        and "Scan parquet" not in plan
        and "Aggregate" not in plan
    )


@pytest.fixture(scope="module")
def qenv(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("qfile_stats")
    eng = Engine(spark=spark)
    df = spark.createDataFrame(ROWS, SCHEMA)
    p_flat = str(root / "stats_tbl")
    df.coalesce(2).write.parquet(p_flat)
    eng.register_table("stats_tbl", p_flat)
    # partitioned twin: dt INT partitions 2010/2011/2012 by t range —
    # the metadata_only_queries_with_filters.q layout
    p_part = str(root / "stats_tbl_part")
    from pyspark.sql import functions as F

    dfp = df.withColumn(
        "dt",
        F.when(F.col("t") < 30, 2010)
        .when(F.col("t") < 60, 2011)
        .otherwise(2012),
    )
    dfp.repartition("dt").write.partitionBy("dt").parquet(p_part)
    eng.register_table("stats_tbl_part", p_part, ["dt"])
    eng.sql("SET hive.compute.query.using.stats=true")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW stats_tbl AS SELECT * FROM "
        f"read_parquet('{p_flat}/*.parquet')"
    )
    con.execute(
        "CREATE VIEW stats_tbl_part AS SELECT * FROM "
        f"read_parquet('{p_part}/*/*.parquet', hive_partitioning=1)"
    )
    yield eng, con
    con.close()


def _chk(eng, con, sql, answered, duck_sql=None):
    df = eng.sql(sql)
    assert _is_stats_answered(df) == answered, explain_str(df)
    assert_matches_oracle(df, con, duck_sql or sql)
    return df


def test_q_metadata_only_unpartitioned(qenv):
    """metadata_only_queries.q head: count/sum(literal)/constants after
    basic ANALYZE; count(col)/min/max after FOR COLUMNS."""
    eng, con = qenv
    sql1 = (
        "SELECT count(*) AS c, sum(1) AS s1, "
        "sum(0.2) AS s02, count(1) AS c1, count(s) AS cs, "
        "count(bo) AS cbo, count(si) AS csi FROM stats_tbl"
    )
    duck1 = sql1.replace("sum(1) AS s1", "CAST(sum(1) AS BIGINT) AS s1")
    # pre-ANALYZE: real execution, same values (autogather divergence)
    _chk(eng, con, sql1, answered=False, duck_sql=duck1)
    eng.sql("ANALYZE TABLE stats_tbl COMPUTE STATISTICS")
    eng.sql(
        f"ANALYZE TABLE stats_tbl COMPUTE STATISTICS FOR COLUMNS {_COLS}"
    )
    _chk(eng, con, sql1, answered=True, duck_sql=duck1)
    # the constant-interleaved golden shape
    _chk(
        eng, con,
        "SELECT count(*) AS c, '1' AS one, sum(1) AS s1, "
        "sum(0.2) AS s02, 2 AS two, count(1) AS c1, count(s) AS cs, "
        "3+4.0 AS three, count(bo) AS cbo, count(si) AS csi, "
        "max(i) AS mxi, min(b) AS mnb FROM stats_tbl",
        answered=True,
        duck_sql="SELECT count(*) AS c, '1' AS one, CAST(sum(1) AS "
        "BIGINT) AS s1, sum(0.2) AS s02, 2 AS two, count(1) AS c1, "
        "count(s) AS cs, 3+4.0 AS three, count(bo) AS cbo, "
        "count(si) AS csi, max(i) AS mxi, min(b) AS mnb FROM stats_tbl",
    )
    # min/max across every numeric type
    _chk(
        eng, con,
        "SELECT min(i) AS mni, max(i) AS mxi, min(b) AS mnb, "
        "max(b) AS mxb, min(d) AS mnd, max(d) AS mxd "
        "FROM stats_tbl",
        answered=True,
    )


def test_q_metadata_only_boundaries_fall_back(qenv):
    """The goldens' must-NOT-answer shapes: un-analyzed column,
    GROUP BY, data-column WHERE, expression over an aggregate,
    count(DISTINCT), min of a STRING column."""
    eng, con = qenv
    eng.sql("ANALYZE TABLE stats_tbl COMPUTE STATISTICS")
    eng.sql(
        f"ANALYZE TABLE stats_tbl COMPUTE STATISTICS FOR COLUMNS {_COLS}"
    )
    # count(ts): ts outside the FOR COLUMNS list (golden: explain shows
    # a full job for count(ts) — dec/ts were never analyzed)
    _chk(eng, con, "SELECT count(ts) AS cts FROM stats_tbl",
         answered=False)
    # group by '1' (metadata_only_queries.q tail)
    _chk(
        eng, con,
        "SELECT count('1') AS c FROM stats_tbl GROUP BY '1'",
        answered=False,
    )
    # data-column predicate
    _chk(
        eng, con,
        "SELECT count(*) AS c FROM stats_tbl WHERE t > 10",
        answered=False,
    )
    # expression over an aggregate (metadata_only_queries_with_filters
    # tail: select count(*)/2)
    _chk(
        eng, con,
        "SELECT CAST(count(*)/2 AS DOUBLE) AS h FROM stats_tbl",
        answered=False,
    )
    _chk(
        eng, con,
        "SELECT count(DISTINCT t) AS cd FROM stats_tbl",
        answered=False,
    )
    # min of STRING: stats carry lengths, not extrema (the reference's
    # unsupported-type bail-out)
    _chk(eng, con, "SELECT min(s) AS mns FROM stats_tbl",
         answered=False)


def test_q_metadata_only_partitioned(qenv):
    """metadata_only_queries.q partitioned half: ANALYZE per-partition
    (the PARTITION (dt) all-partitions form), whole-table aggregates
    answered from the SUM over partition stats."""
    eng, con = qenv
    out = eng.sql(
        "ANALYZE TABLE stats_tbl_part PARTITION (dt) COMPUTE STATISTICS"
    ).collect()
    assert {r.partition for r in out} == {"dt=2010", "dt=2011", "dt=2012"}
    assert sum(r.num_rows for r in out) == len(ROWS)
    eng.sql(
        "ANALYZE TABLE stats_tbl_part COMPUTE STATISTICS "
        f"FOR COLUMNS {_COLS}"
    )
    _chk(
        eng, con,
        "SELECT count(*) AS c, sum(1) AS s1, "
        "count(s) AS cs, count(bo) AS cbo, count(si) AS csi, "
        "max(i) AS mxi, min(b) AS mnb FROM stats_tbl_part",
        answered=True,
        duck_sql="SELECT count(*) AS c, CAST(sum(1) AS BIGINT) AS s1, "
        "count(s) AS cs, count(bo) AS cbo, count(si) AS csi, "
        "max(i) AS mxi, min(b) AS mnb FROM stats_tbl_part",
    )
    _chk(
        eng, con,
        "SELECT min(i) AS mni, max(i) AS mxi, min(d) AS mnd, "
        "max(d) AS mxd FROM stats_tbl_part",
        answered=True,
    )


def test_q_metadata_only_with_filters(qenv):
    """metadata_only_queries_with_filters.q: partition-column equality
    and range predicates served from the PRUNED partition list."""
    eng, con = qenv
    eng.sql(
        "ANALYZE TABLE stats_tbl_part PARTITION (dt) COMPUTE STATISTICS"
    )
    eng.sql(
        "ANALYZE TABLE stats_tbl_part COMPUTE STATISTICS "
        f"FOR COLUMNS {_COLS}"
    )
    _chk(
        eng, con,
        "SELECT count(*) AS c, count(1) AS c1, sum(1) "
        "AS s1, count(s) AS cs, count(bo) AS cbo, count(si) AS csi, "
        "max(i) AS mxi, min(b) AS mnb, min(d) AS mnd "
        "FROM stats_tbl_part WHERE dt = 2010",
        answered=True,
        duck_sql="SELECT count(*) AS c, count(1) AS c1, CAST(sum(1) AS "
        "BIGINT) AS s1, count(s) AS cs, count(bo) AS cbo, count(si) AS "
        "csi, max(i) AS mxi, min(b) AS mnb, min(d) AS mnd "
        "FROM stats_tbl_part WHERE dt = 2010",
    )
    _chk(
        eng, con,
        "SELECT count(*) AS c, sum(2) AS s2, "
        "count(s) AS cs, max(i) AS mxi, min(b) AS mnb FROM "
        "stats_tbl_part WHERE dt > 2010",
        answered=True,
        duck_sql="SELECT count(*) AS c, CAST(sum(2) AS BIGINT) AS s2, "
        "count(s) AS cs, max(i) AS mxi, min(b) AS mnb FROM "
        "stats_tbl_part WHERE dt > 2010",
    )
    # compound partition predicate
    _chk(
        eng, con,
        "SELECT count(*) AS c FROM stats_tbl_part "
        "WHERE dt >= 2010 AND dt <> 2011",
        answered=True,
    )
    # pruned to ZERO partitions: count 0, min/max NULL — like real
    # execution over an empty selection
    _chk(
        eng, con,
        "SELECT count(*) AS c, min(i) AS mni FROM stats_tbl_part "
        "WHERE dt = 1999",
        answered=True,
    )


def test_q_stats_partial_partition_coverage(qenv, spark, tmp_path):
    """stats_invalidation/partial coverage boundary: only ONE partition
    analyzed → whole-table query falls back, the covered partition's
    filtered query answers; a WRITE invalidates everything."""
    eng = Engine(spark=spark)
    eng.sql("SET hive.compute.query.using.stats=true")
    from pyspark.sql import functions as F

    p = str(tmp_path / "cover_t")
    df = spark.createDataFrame(
        [(i, 2010 + i % 2) for i in range(40)], "x int, dt int"
    )
    df.repartition("dt").write.partitionBy("dt").parquet(p)
    eng.register_table("cover_t", p, ["dt"])
    eng.sql(
        "ANALYZE TABLE cover_t PARTITION (dt=2010) COMPUTE STATISTICS"
    )
    whole = eng.sql("SELECT count(*) AS c FROM cover_t")
    assert not _is_stats_answered(whole)
    assert whole.collect()[0].c == 40
    covered = eng.sql("SELECT count(*) AS c FROM cover_t WHERE dt = 2010")
    assert _is_stats_answered(covered), explain_str(covered)
    assert covered.collect()[0].c == 20
    # complete the coverage → whole table now answers
    eng.sql(
        "ANALYZE TABLE cover_t PARTITION (dt=2011) COMPUTE STATISTICS"
    )
    whole2 = eng.sql("SELECT count(*) AS c FROM cover_t")
    assert _is_stats_answered(whole2), explain_str(whole2)
    assert whole2.collect()[0].c == 40
    # engine write: a STATS-AWARE insert (hive.stats.autogather, the
    # default) keeps the appended partition accurate — Hive's StatsTask
    # adds the write's counter to the prior numbers, so the query still
    # answers from stats WITH the fresh value
    eng.sql("INSERT INTO TABLE cover_t PARTITION (dt=2010) VALUES (99)")
    after = eng.sql("SELECT count(*) AS c FROM cover_t WHERE dt = 2010")
    assert _is_stats_answered(after), explain_str(after)
    assert after.collect()[0].c == 21
    # with autogather OFF the same write is a pure invalidation event:
    # fallback, fresh value
    eng.sql("SET hive.stats.autogather=false")
    try:
        eng.sql(
            "INSERT INTO TABLE cover_t PARTITION (dt=2010) VALUES (98)"
        )
        off = eng.sql(
            "SELECT count(*) AS c FROM cover_t WHERE dt = 2010"
        )
        assert not _is_stats_answered(off)
        assert off.collect()[0].c == 22
    finally:
        eng.sql("SET hive.stats.autogather=true")


# data/files/null.txt (stats_only_null.q fixture): NULLs in a and b
NULLROWS = [
    (1.0, 1, "same", 0), (1.0, 1, "same", 1), (1.0, 1, "same", 2),
    (1.0, 1, "same", 3), (1.0, 1, "same", 4), (None, 1, "same", 5),
    (None, None, "same", 6), (1.0, None, "same", 7), (1.0, 1, "same", 8),
    (1.0, 1, "same", 9),
]


def test_q_stats_only_null(qenv, spark, tmp_path):
    """stats_only_null.q: count(col) over columns WITH NULLS answered
    from stats — flat table and per-partition column ANALYZE with the
    whole-table query aggregating both partitions' null counts."""
    eng = Engine(spark=spark)
    eng.sql("SET hive.compute.query.using.stats=true")
    con = duckdb.connect()
    p = str(tmp_path / "stats_null")
    spark.createDataFrame(
        NULLROWS, "a double, b int, c string, d int"
    ).coalesce(1).write.parquet(p)
    eng.register_table("stats_null", p)
    pp = str(tmp_path / "stats_null_part")
    from pyspark.sql import functions as F

    (spark.createDataFrame(NULLROWS, "a double, b int, c string, d int")
        .withColumn("dt", F.when(F.col("d") <= 5, "2010").otherwise("2011"))
        .repartition("dt").write.partitionBy("dt").parquet(pp))
    eng.register_table("stats_null_part", pp, ["dt"])
    for t, path in (("stats_null", p + "/*.parquet"),
                    ("stats_null_part", pp + "/*/*.parquet")):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}'"
            + (", hive_partitioning=1)" if "part" in t else ")")
        )
    sql = ("SELECT count(*) AS n, count(a) AS ca, count(b) AS cb, "
           "count(c) AS cc, count(d) AS cd FROM {t}")
    eng.sql("ANALYZE TABLE stats_null COMPUTE STATISTICS")
    eng.sql(
        "ANALYZE TABLE stats_null COMPUTE STATISTICS FOR COLUMNS a,b,c,d"
    )
    df = eng.sql(sql.format(t="stats_null"))
    assert _is_stats_answered(df), explain_str(df)
    assert_matches_oracle(df, con, sql.format(t="stats_null"))
    # the golden's per-partition FOR COLUMNS form, one partition at a
    # time, then the whole-table query aggregates both
    eng.sql(
        "ANALYZE TABLE stats_null_part PARTITION (dt) COMPUTE STATISTICS"
    )
    eng.sql(
        "ANALYZE TABLE stats_null_part PARTITION (dt='2010') "
        "COMPUTE STATISTICS FOR COLUMNS a,b,c,d"
    )
    partial = eng.sql(sql.format(t="stats_null_part"))
    assert not _is_stats_answered(partial)  # dt=2011 columns uncovered
    eng.sql(
        "ANALYZE TABLE stats_null_part PARTITION (dt='2011') "
        "COMPUTE STATISTICS FOR COLUMNS a,b,c,d"
    )
    df2 = eng.sql(sql.format(t="stats_null_part"))
    assert _is_stats_answered(df2), explain_str(df2)
    assert_matches_oracle(df2, con, sql.format(t="stats_null_part"))
    con.close()


def test_q_stats_noscan_partial_spec(qenv, spark, tmp_path):
    """stats_noscan_1.q: NOSCAN with full and PARTIAL partition specs
    over a two-level (ds, hr) layout — per-partition file counts, no
    row counts, partial spec fans out to every matching hr."""
    eng = Engine(spark=spark)
    p = str(tmp_path / "an_srcpart")
    rows = [(str(i), f"val_{i}", ds, hr)
            for i in range(20)
            for ds in ("2008-04-08", "2008-04-09")
            for hr in (11, 12)]
    (spark.createDataFrame(rows, "key string, value string, ds string, hr int")
        .repartition("ds", "hr").write.partitionBy("ds", "hr").parquet(p))
    eng.register_table("an_srcpart", p, ["ds", "hr"])
    one = eng.sql(
        "ANALYZE TABLE an_srcpart PARTITION(ds='2008-04-08',hr=11) "
        "COMPUTE STATISTICS NOSCAN"
    ).collect()
    assert [r.partition for r in one] == ["ds=2008-04-08/hr=11"]
    assert one[0].num_files > 0 and one[0].total_size_bytes > 0
    assert "num_rows" not in {f for f in one[0].asDict()}
    partial = eng.sql(
        "ANALYZE TABLE an_srcpart PARTITION(ds='2008-04-08') "
        "COMPUTE STATISTICS NOSCAN"
    ).collect()
    assert sorted(r.partition for r in partial) == [
        "ds=2008-04-08/hr=11", "ds=2008-04-08/hr=12"
    ]
    # partial spec on the SCAN form gathers basic stats for both hrs
    got = eng.sql(
        "ANALYZE TABLE an_srcpart PARTITION(ds='2008-04-08') "
        "COMPUTE STATISTICS"
    ).collect()
    assert sorted(r.partition for r in got) == [
        "ds=2008-04-08/hr=11", "ds=2008-04-08/hr=12"
    ]
    assert sum(r.num_rows for r in got) == 40


def test_q_stats_empty_partition_and_dyn_part(qenv, spark, tmp_path):
    """stats_empty_partition.q / stats_empty_dyn_part.q: ANALYZE over
    a table whose partition holds ZERO rows records numRows=0 for it,
    the stats-answered count over that partition is 0 (scan-free),
    and a dynamic-partition insert producing NO partitions leaves the
    table empty but analyzable."""
    eng, con = qenv
    p = str(tmp_path / "stats_empty")
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, "a", "p1")], "i int, s string, part string"
    )
    df.write.partitionBy("part").parquet(p)
    import os
    os.makedirs(os.path.join(p, "part=p2"), exist_ok=True)
    eng.register_table("stats_empty_t", p, ["part"])
    eng.sql("ANALYZE TABLE stats_empty_t PARTITION (part) "
            "COMPUTE STATISTICS")
    got = eng.sql(
        "SELECT count(*) AS n FROM stats_empty_t WHERE part = 'p2'"
    )
    assert _is_stats_answered(got), explain_str(got)
    assert got.collect()[0].n == 0
    got = eng.sql(
        "SELECT count(*) AS n FROM stats_empty_t WHERE part = 'p1'"
    )
    assert _is_stats_answered(got)
    assert got.collect()[0].n == 1


def test_q_limit_partition_metadataonly_distinct(qenv, spark, tmp_path):
    """limit_partition_metadataonly.q / MetadataOnlyOptimizer: SELECT
    DISTINCT over partition columns answers from the partition LISTING
    — scan-free, no ANALYZE needed, correct under partition-only
    WHERE, falling back for data columns; conf-off disables."""
    eng, con = qenv
    p = str(tmp_path / "lpm")
    rows = [
        (str(i), ds, hr)
        for ds in ("2008-04-08", "2008-04-09")
        for hr in ("11", "12")
        for i in range(20)
    ]
    from pyspark.sql.types import StringType, StructField, StructType
    spark.createDataFrame(
        rows, "key string, ds string, hr string"
    ).write.partitionBy("ds", "hr").parquet(p)
    eng.metastore["lpm_t"] = TableDesc(schema=StructType(
        [StructField(c, StringType()) for c in ("key", "ds", "hr")]
    ))
    eng.register_table("lpm_t", p, ["ds", "hr"])
    df = eng.sql("select distinct hr from lpm_t")
    plan = explain_str(df)
    assert "FileScan" not in plan and "Scan parquet" not in plan, plan
    assert sorted(r.hr for r in df.collect()) == ["11", "12"]
    df = eng.sql(
        "select distinct ds, hr from lpm_t where ds = '2008-04-08'"
    )
    assert "FileScan" not in explain_str(df)
    assert sorted((r.ds, r.hr) for r in df.collect()) == [
        ("2008-04-08", "11"), ("2008-04-08", "12"),
    ]
    # data column anywhere → REAL execution (still correct)
    df = eng.sql("select distinct key, hr from lpm_t where key = '7'")
    assert "Scan" in explain_str(df)
    assert df.count() == 2
    # conf off → real execution, same answer
    eng.sql("set hive.optimize.metadataonly=false")
    try:
        df = eng.sql("select distinct hr from lpm_t")
        assert "Scan" in explain_str(df)
        assert sorted(r.hr for r in df.collect()) == ["11", "12"]
    finally:
        eng.sql("set hive.optimize.metadataonly=true")


def _desc_params(eng, sql):
    """DESCRIBE output → {param: value} over the parameter-shaped rows."""
    return {
        r.col_name: r.data_type
        for r in eng.sql(sql).collect()
        if r.col_name and not r.col_name.startswith("#")
    }


def test_q_stats1_autogather_desc_formatted(spark, tmp_path):
    """stats1.q: INSERT OVERWRITE from a UNION ALL autogathers basic
    stats (hive.stats.autogather default TRUE) — DESCRIBE FORMATTED
    shows numRows and COLUMN_STATS_ACCURATE without any ANALYZE, and
    count(*) answers scan-free."""
    eng = Engine(spark=spark)
    p = str(tmp_path / "tmptable")
    spark.createDataFrame([("seed", "seed")], "key string, value string") \
        .write.parquet(p)
    eng.register_table("tmptable", p)
    psrc = str(tmp_path / "src_t")
    spark.createDataFrame(
        [(str(i), f"val_{i}") for i in range(20)],
        "key string, value string",
    ).write.parquet(psrc)
    eng.register_table("src_t", psrc)
    eng.sql(
        "INSERT OVERWRITE TABLE tmptable "
        "SELECT unionsrc.key, unionsrc.value FROM "
        "(SELECT 'tst1' AS key, cast(count(1) AS string) AS value "
        " FROM src_t s1 "
        " UNION ALL "
        " SELECT s2.key AS key, s2.value AS value FROM src_t s2) unionsrc"
    )
    params = _desc_params(eng, "DESCRIBE FORMATTED tmptable")
    assert params.get("numRows") == "21"
    assert params.get("COLUMN_STATS_ACCURATE") == '{"BASIC_STATS":"true"}'
    df = eng.sql("SELECT count(*) AS c FROM tmptable")
    assert _is_stats_answered(df), explain_str(df)
    assert df.collect()[0].c == 21


def test_q_stats18_load_clears_numrows_updates_quick_stats(
    spark, tmp_path
):
    """stats18.q: LOAD DATA into an existing autogathered partition —
    numFiles/totalSize update (quick stats from the listing), numRows
    and COLUMN_STATS_ACCURATE are CLEARED (a file move is not
    stats-aware), and the count query falls back to real execution
    with the right value."""
    eng = Engine(spark=spark)
    p = str(tmp_path / "stats_part")
    spark.createDataFrame(
        [("0", "v", "2010-04-08", "11")],
        "key string, value string, ds string, hr string",
    ).write.partitionBy("ds", "hr").parquet(p)
    eng.register_table("stats_part", p, ["ds", "hr"])
    eng.sql(
        "INSERT OVERWRITE TABLE stats_part "
        "PARTITION (ds='2010-04-08', hr='13') "
        "SELECT cast(id AS string), 'x' FROM range(25)"
    )
    desc = (
        "DESCRIBE FORMATTED stats_part "
        "PARTITION (ds='2010-04-08', hr='13')"
    )
    before = _desc_params(eng, desc)
    assert before.get("numRows") == "25"
    assert before.get("COLUMN_STATS_ACCURATE") == '{"BASIC_STATS":"true"}'
    n_files_before = int(before["numFiles"])
    # a parquet file arriving by pure MOVE (LOAD DATA)
    extra = str(tmp_path / "extra")
    spark.createDataFrame(
        [("91", "loaded")], "key string, value string"
    ).coalesce(1).write.parquet(extra)
    eng.sql(
        f"LOAD DATA INPATH '{extra}' INTO TABLE stats_part "
        "PARTITION (ds='2010-04-08', hr='13')"
    )
    after = _desc_params(eng, desc)
    assert "numRows" not in after
    assert "COLUMN_STATS_ACCURATE" not in after
    assert int(after["numFiles"]) > n_files_before
    assert int(after["totalSize"]) > int(before["totalSize"])
    df = eng.sql(
        "SELECT count(*) AS c FROM stats_part "
        "WHERE ds='2010-04-08' AND hr='13'"
    )
    assert not _is_stats_answered(df)
    assert df.collect()[0].c == 26


def test_q_stats4_dynamic_partitions_autogather(spark, tmp_path):
    """stats4.q: a DYNAMIC-partition INSERT OVERWRITE gathers
    per-partition numRows from the per-written-partition counters
    (StatsTask.java:245ff; here the staged parquet footers) — DESCRIBE
    FORMATTED of each written partition shows numRows without any
    ANALYZE, and pruned counts answer scan-free."""
    eng = Engine(spark=spark)
    p = str(tmp_path / "nzhang_part1")
    spark.createDataFrame(
        [("0", "v", "2008-04-08")], "key string, value string, ds string"
    ).write.partitionBy("ds").parquet(p)
    eng.register_table("nzhang_part1", p, ["ds"])
    eng.sql("SET hive.exec.dynamic.partition.mode=nonstrict")
    eng.sql(
        "INSERT OVERWRITE TABLE nzhang_part1 PARTITION (ds) "
        "SELECT cast(id AS string), 'y', "
        "CASE WHEN id < 4 THEN '2008-04-08' ELSE '2008-04-09' END "
        "FROM range(10)"
    )
    for ds, want in [("2008-04-08", 4), ("2008-04-09", 6)]:
        params = _desc_params(
            eng,
            f"DESCRIBE FORMATTED nzhang_part1 PARTITION (ds='{ds}')",
        )
        assert params.get("numRows") == str(want)
        assert (
            params.get("COLUMN_STATS_ACCURATE")
            == '{"BASIC_STATS":"true"}'
        )
        assert int(params["numFiles"]) >= 1
        df = eng.sql(
            f"SELECT count(*) AS c FROM nzhang_part1 WHERE ds='{ds}'"
        )
        assert _is_stats_answered(df), explain_str(df)
        assert df.collect()[0].c == want
    # every partition was (re)written → the whole table answers too
    df = eng.sql("SELECT count(*) AS c FROM nzhang_part1")
    assert _is_stats_answered(df)
    assert df.collect()[0].c == 10
