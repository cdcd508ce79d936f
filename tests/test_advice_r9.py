"""Regression pins for the round-8 ADVICE items.

1. medium — hive.int.timestamp.conversion.in.seconds now defaults to
   'false' like the reference (HiveConf.java:1337): integral/boolean
   CAST ... AS TIMESTAMP counts milliseconds default-config.
   (Value pins live in tests/test_qfile_timestamp_ints.py.)
2. medium — _stats_part_predicate unescapes partition-dir values before
   comparing WHERE literals, and compares integral types via int().
3. medium — _partition_rel_dir escapes values with the Hive charset so
   static-spec INSERT OVERWRITE matches what partitionBy stages.
4. low — _rewrite_int_ts_casts single-evaluates its operand (see
   tests/test_qfile_timestamp_ints.py::test_q_int_ts_rewrite_single_
   evaluation) and every CASE branch analyzes for every operand type.
5. low — spark.sql.legacy.timeParserPolicy is LEGACY session-wide
   (ENGINE_CONFS + ensure_engine_confs), never flipped mid-session:
   the same statement returns the same result regardless of order.
"""

from __future__ import annotations

import pytest

from hive_2_3_2_spark.engine import Engine


def test_datetime_parsing_is_statement_order_independent(spark):
    """ADVICE #5 / verdict "What's wrong #2": run an edge-pattern
    query BEFORE any week-based pattern has been seen by the session,
    then a week-pattern query, then the SAME edge query again — the
    two edge results must be identical (no sticky mid-session conf
    flip changing parse semantics)."""
    eng = Engine(spark=spark)
    edge = (
        "select unix_timestamp('2015-02-29', 'yyyy-MM-dd') AS bad_day, "
        "date_format('2015-04-08', 'yyyy-MM') AS ym, "
        "cast('2015-02-29' as date) AS bad_cast"
    )
    before = eng.sql(edge).collect()
    # week-based pattern — pre-fix this used to flip the session conf
    wk = eng.sql(
        "select date_format('2015-04-08', 'Y-w') AS yw"
    ).collect()
    assert wk[0].yw == "2015-15"
    after = eng.sql(edge).collect()
    assert before == after


def test_week_pattern_works_on_first_statement(spark):
    """A FRESH engine handles SimpleDateFormat week fields on statement
    one — no prior query needed to warm a conf flip."""
    eng = Engine(spark=spark)
    row = eng.sql(
        "select date_format('2015-04-08', 'Y') AS y, "
        "date_format('2015-04-08', 'E') AS e"
    ).collect()[0]
    assert (row.y, row.e) == ("2015", "Wed")


def test_int_ts_cast_of_date_operand_analyzes(spark):
    """ADVICE #4: under the (now default) millis conf the rewrite's
    integral branch must not break CAST(date AS TIMESTAMP) — every
    CASE branch analyzes for a DATE operand and the ELSE branch wins."""
    eng = Engine(spark=spark)
    row = eng.sql(
        "select cast(cast('2020-03-04' as date) as timestamp) AS t"
    ).collect()[0]
    assert row.t.isoformat() == "2020-03-04T00:00:00"


def _stats_answered(df) -> bool:
    from hive_2_3_2_spark.plans import explain_str

    plan = explain_str(df)
    return (
        "LocalTableScan" in plan
        and "Scan parquet" not in plan
        and "Aggregate" not in plan
    )


@pytest.fixture()
def special_part_env(spark, tmp_path):
    """Partitioned table whose partition VALUES need dir escaping
    ('a:b', 'x/y') plus one plain value."""
    eng = Engine(spark=spark)
    p = str(tmp_path / "esc_t")
    rows = (
        [(i, "a:b") for i in range(3)]
        + [(i, "x/y") for i in range(2)]
        + [(i, "plain") for i in range(4)]
    )
    (
        spark.createDataFrame(rows, "id int, p string")
        .repartition("p")
        .write.partitionBy("p")
        .parquet(p)
    )
    eng.register_table("esc_t", p, ["p"])
    return eng, p


def test_stats_pruning_unescapes_partition_values(special_part_env):
    """ADVICE #2: WHERE literals are LOGICAL values; partition dirs are
    ESCAPED ('a:b' → 'a%3Ab'). The stats predicate must unescape before
    comparing — pre-fix it silently dropped the partition and served
    count 0."""
    eng, _ = special_part_env
    eng.sql("ANALYZE TABLE esc_t PARTITION(p) COMPUTE STATISTICS")
    df = eng.sql("SELECT count(*) AS c FROM esc_t WHERE p = 'a:b'")
    assert _stats_answered(df)
    assert df.collect()[0].c == 3
    df = eng.sql("SELECT count(*) AS c FROM esc_t WHERE p = 'x/y'")
    assert _stats_answered(df)
    assert df.collect()[0].c == 2


def test_stats_pruning_bigint_partition_precision(spark, tmp_path):
    """ADVICE #2 (precision half): integral partition values compare
    via int() — float() conflates 2^53 and 2^53+1, double-counting."""
    eng = Engine(spark=spark)
    p = str(tmp_path / "big_t")
    big = 2**53
    rows = [(i, big) for i in range(3)] + [(i, big + 1) for i in range(5)]
    (
        spark.createDataFrame(rows, "id int, pid bigint")
        .repartition("pid")
        .write.partitionBy("pid")
        .parquet(p)
    )
    eng.register_table("big_t", p, ["pid"])
    eng.sql("ANALYZE TABLE big_t PARTITION(pid) COMPUTE STATISTICS")
    df = eng.sql(f"SELECT count(*) AS c FROM big_t WHERE pid = {big + 1}")
    assert _stats_answered(df)
    assert df.collect()[0].c == 5


def test_insert_overwrite_static_special_char_partition(special_part_env):
    """ADVICE #3: static-spec INSERT OVERWRITE into a special-char
    partition must swap the ESCAPED staged dir — pre-fix the rel built
    from raw values never matched and the write was a silent no-op."""
    eng, _ = special_part_env
    eng.sql(
        "INSERT OVERWRITE TABLE esc_t PARTITION (p='x/y') "
        "SELECT 99 AS id"
    )
    rows = eng.sql(
        "SELECT id FROM esc_t WHERE p = 'x/y' ORDER BY id"
    ).collect()
    assert [r.id for r in rows] == [99]
    # untouched partitions intact
    assert eng.sql(
        "SELECT count(*) AS c FROM esc_t WHERE p = 'a:b'"
    ).collect()[0].c == 3


def test_parquet_row_count_distributed_above_threshold(spark, tmp_path, monkeypatch):
    """Verdict "What's wrong #3": above DISTRIBUTED_COUNT_THRESHOLD
    files, parquet_row_count runs one Spark metadata-count job instead
    of a serial driver footer walk — same answer both ways, and the
    serial pyarrow reader must NOT be touched on the distributed path."""
    from hive_2_3_2_spark.sources import writers

    p = str(tmp_path / "many_files")
    spark.createDataFrame(
        [(i,) for i in range(40)], "id int"
    ).repartition(8).write.parquet(p)
    assert writers.parquet_row_count(p) == 40
    assert writers.parquet_row_count(p, spark) == 40  # below threshold
    monkeypatch.setattr(writers, "DISTRIBUTED_COUNT_THRESHOLD", 2)
    calls = []
    real = writers._pq.ParquetFile

    def counting(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(writers._pq, "ParquetFile", counting)
    assert writers.parquet_row_count(p, spark) == 40
    assert calls == []  # distributed: zero driver footer reads
    # no session → serial fallback still correct
    assert writers.parquet_row_count(p) == 40
    assert len(calls) > 2


def test_load_data_small_n_behavior_unchanged(spark, tmp_path):
    """LOAD DATA keeps its footer-derived rows_affected at small N."""
    eng = Engine(spark=spark)
    src = str(tmp_path / "incoming")
    tgt = str(tmp_path / "ld_t")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string") \
        .coalesce(1).write.parquet(src)
    spark.createDataFrame([], "k int, v string").write.parquet(tgt)
    eng.register_table("ld_t", tgt)
    n = eng.sql(f"LOAD DATA INPATH '{src}' INTO TABLE ld_t").collect()[0][0]
    assert int(n) == 2
    assert eng.table("ld_t").count() == 2
