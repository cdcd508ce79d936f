"""clientpositive `.q` slice, round 8: the autoColumnStats family
(reference: ql/src/test/queries/clientpositive/autoColumnStats_1.q-9.q
— all SET hive.stats.column.autogather=true, HiveConf.java:1657) over
the engine's column-autogather path: an unpartitioned INSERT OVERWRITE
gathers column stats riding the write job (observe — no second scan),
so DESCRIBE t col shows min/max/nulls/NDV and min/max queries answer
scan-free with NO ANALYZE anywhere.

Boundaries pinned (each the goldens' observable):
- autoColumnStats_1 head: CREATE LIKE + INSERT OVERWRITE → stats
  populated (Hive's describe formatted shows COLUMN_STATS_ACCURATE
  with every column listed);
- INSERT INTO after the overwrite: Hive MERGES column stats
  (bitvector NDV merge); this engine leaves column stats un-gathered
  on appends — a documented divergence: the serve gate drops (never a
  stale answer), basic numRows still accumulates;
- multi-insert (FROM src INSERT OVERWRITE a ... INSERT OVERWRITE b):
  the engine's multi-insert handler does not autogather — queries run
  for real with correct values (safe fallback, not a wrong answer);
- conf OFF (the Hive 2.3 default): no column gathering.
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


def _desc_col(eng, table, col):
    return {
        r.info_name: r.info_value
        for r in eng.sql(f"DESCRIBE {table} {col}").collect()
    }


@pytest.fixture()
def env(spark, tmp_path):
    eng = Engine(spark=spark)
    psrc = str(tmp_path / "src_t")
    spark.createDataFrame(
        [(str(i % 100), f"val_{i % 100}") for i in range(300)],
        "key string, value string",
    ).write.parquet(psrc)
    eng.register_table("src_t", psrc)
    eng.sql("SET hive.stats.column.autogather=true")
    yield eng, tmp_path
    eng.sql("SET hive.stats.column.autogather=false")


def _mk(eng, spark, tmp_path, name):
    p = str(tmp_path / name)
    spark.createDataFrame(
        [("seed", "seed")], "key string, value string"
    ).write.parquet(p)
    eng.register_table(name, p)
    return p


def test_q_autocolstats_1_overwrite_populates(env, spark):
    """autoColumnStats_1.q head: insert overwrite table src_multi1
    select * from src → describe shows populated column stats, and
    count(col) answers scan-free without ANALYZE."""
    eng, tmp_path = env
    _mk(eng, spark, tmp_path, "src_multi1")
    eng.sql("INSERT OVERWRITE TABLE src_multi1 SELECT * FROM src_t")
    d = _desc_col(eng, "src_multi1", "key")
    assert d["num_nulls"] == "0"
    # HLL estimate of 100 distinct keys: allow the sketch's few-percent
    # band, exactly like Hive's FM-sketch numbers in the goldens
    assert 90 <= int(d["distinct_count"]) <= 110
    assert d["avg_col_len"] != ""
    df = eng.sql(
        "SELECT count(*) AS c, count(key) AS ck, count(value) AS cv "
        "FROM src_multi1"
    )
    assert _answered(df), explain_str(df)
    assert tuple(df.collect()[0]) == (300, 300, 300)


def test_q_autocolstats_insert_into_drops_column_gate(env, spark):
    """INSERT INTO after the overwrite: Hive merges column stats; this
    engine drops the column-stats gate (documented divergence) while
    basic numRows accumulates — so count(*) still serves, count(col)
    runs for real with the right value."""
    eng, tmp_path = env
    _mk(eng, spark, tmp_path, "tgt_into")
    eng.sql(
        "INSERT OVERWRITE TABLE tgt_into SELECT * FROM src_t LIMIT 50"
    )
    assert _answered(
        eng.sql("SELECT count(key) AS ck FROM tgt_into")
    )
    eng.sql("INSERT INTO tgt_into SELECT * FROM src_t LIMIT 10")
    df = eng.sql("SELECT count(*) AS c FROM tgt_into")
    assert _answered(df)
    assert df.collect()[0].c == 60
    df = eng.sql("SELECT count(key) AS ck FROM tgt_into")
    assert not _answered(df)
    assert df.collect()[0].ck == 60


def test_q_autocolstats_multiinsert_fallback(env, spark, tmp_path):
    """autoColumnStats_1.q multi-insert: FROM src INSERT OVERWRITE a
    ... INSERT OVERWRITE b — values correct vs DuckDB; the engine's
    multi-insert path gathers no stats (real execution)."""
    eng, _ = env
    pa = _mk(eng, spark, tmp_path, "multi_a")
    pb = _mk(eng, spark, tmp_path, "multi_b")
    eng.sql(
        "FROM src_t "
        "INSERT OVERWRITE TABLE multi_a SELECT * "
        "INSERT OVERWRITE TABLE multi_b SELECT *"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW multi_a AS SELECT * FROM "
        f"read_parquet('{pa}/*.parquet')"
    )
    con.execute(
        "CREATE VIEW multi_b AS SELECT * FROM "
        f"read_parquet('{pb}/*.parquet')"
    )
    assert_matches_oracle(
        eng.sql(
            "SELECT count(*) AS c, min(key) AS mn, max(value) AS mx "
            "FROM multi_a"
        ),
        con,
        "SELECT count(*) AS c, min(key) AS mn, max(value) AS mx "
        "FROM multi_a",
    )
    assert_matches_oracle(
        eng.sql("SELECT count(*) AS c FROM multi_b"),
        con,
        "SELECT count(*) AS c FROM multi_b",
    )
    con.close()


def test_q_autocolstats_conf_off_default(spark, tmp_path):
    """The Hive 2.3 default is OFF: an overwrite gathers only basic
    stats — min/max fall back to real execution."""
    eng = Engine(spark=spark)
    p = str(tmp_path / "noauto")
    spark.createDataFrame([(1,)], "k int").write.parquet(p)
    eng.register_table("noauto", p)
    eng.sql("INSERT OVERWRITE TABLE noauto SELECT id FROM range(8)")
    assert _answered(eng.sql("SELECT count(*) AS c FROM noauto"))
    df = eng.sql("SELECT min(k) AS mn FROM noauto")
    assert not _answered(df)
    assert df.collect()[0].mn == 0
