"""clientpositive schema_evol_* matrix replay, round 9 (reference:
ql/src/test/queries/clientpositive/schema_evol_orc_nonvec_part.q,
schema_evol_orc_vec_table.q, schema_evol_text_nonvec_part_all_
primitive.q — the read-side type-conversion matrix).

Hive's schema evolution (hive.exec.schema.evolution, with
hive.metastore.disallow.incompatible.col.type.changes=false) converts
OLD files' values to the NEW declared types on read: string groups →
numeric, date/timestamp → string groups, integer widening chains,
numeric → string. The engine re-expresses this as schema EPOCHS: a
converting ALTER snapshots the pre-alter files with their read schema;
reads scan each epoch under its own schema and CAST to the declared
one (exactly the converters' permissive-cast semantics), unioned with
the post-alter files scanned directly — ordinary distributed parquet
scans + a plan-level union, no extra shuffle at any scale."""

from __future__ import annotations

import duckdb
import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError

from tests.conftest import assert_matches_oracle


@pytest.fixture()
def eng(spark):
    e = Engine(spark=spark)
    e.sql(
        "set hive.metastore.disallow.incompatible.col.type.changes=false"
    )
    return e


def _mk(eng, tmp_path, name, rows, schema, partitioned=False):
    import os

    p = os.path.join(str(tmp_path), name)
    df = eng.spark.createDataFrame(rows, schema)
    if partitioned:
        df.write.partitionBy("part").parquet(p)
        eng.register_table(name, p, ["part"])
    else:
        df.coalesce(1).write.parquet(p)
        eng.register_table(name, p)
    return p


def test_q_evol_add_int_permute_select(eng, spark, tmp_path):
    """schema_evol_orc_nonvec_part.q part_add_int_permute_select: ADD
    COLUMNS, insert post-alter rows, then every projection permutation
    over mixed old/new files."""
    _mk(eng, tmp_path, "evol_add",
        [(1, 1111, "new", 1)], "insert_num int, a int, b string, part int",
        partitioned=True)
    eng.sql("alter table evol_add add columns(c int)")
    eng.sql(
        "insert into table evol_add partition(part=1) "
        "select 2, 2222, 'new', 3333"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW expected AS SELECT * FROM (VALUES "
        "(1, 1111, 'new', NULL, 1), (2, 2222, 'new', 3333, 1)) "
        "AS t(insert_num, a, b, c, part)"
    )
    assert_matches_oracle(
        eng.sql("select insert_num, part, a, b from evol_add"),
        con, "SELECT insert_num, part, a, b FROM expected",
    )
    assert_matches_oracle(
        eng.sql("select insert_num, part, a, b, c from evol_add"),
        con,
        "SELECT insert_num, part, a, b, CAST(c AS INT) AS c FROM expected",
    )
    assert_matches_oracle(
        eng.sql("select insert_num, part, c from evol_add"),
        con, "SELECT insert_num, part, CAST(c AS INT) AS c FROM expected",
    )
    con.close()


def test_q_evol_string_group_to_double(eng, spark, tmp_path):
    """part_change_string_group_double: STRING columns REPLACEd as
    DOUBLE — old files' strings parse on read ('753.7787' → 753.7787,
    junk → NULL), new files are native doubles."""
    _mk(eng, tmp_path, "evol_s2d",
        [(101, "753.7787", "x123", "original", 1),
         (102, "-83.25", "9.5e2", "original", 1)],
        "insert_num int, c1 string, c2 string, b string, part int",
        partitioned=True)
    eng.sql(
        "alter table evol_s2d replace columns "
        "(insert_num int, c1 double, c2 double, b string)"
    )
    eng.sql(
        "insert into table evol_s2d partition(part=1) "
        "select 111, cast(1.25 as double), cast(2.5 as double), 'new'"
    )
    con = duckdb.connect()
    assert_matches_oracle(
        eng.sql("select insert_num, part, c1, c2, b from evol_s2d"),
        con,
        """
        SELECT insert_num, part, CAST(c1 AS DOUBLE) AS c1,
               CAST(c2 AS DOUBLE) AS c2, b
        FROM (VALUES
          (101, 1, 753.7787, CAST(NULL AS DOUBLE), 'original'),
          (102, 1, -83.25, 950.0, 'original'),
          (111, 1, 1.25, 2.5, 'new'))
        AS t(insert_num, part, c1, c2, b)
        """,
    )
    con.close()


def test_q_evol_date_group_to_string_group(eng, spark, tmp_path):
    """part_change_date_group_string_group: DATE/TIMESTAMP columns
    REPLACEd as STRING/CHAR/VARCHAR — old files format on read."""
    import datetime

    _mk(eng, tmp_path, "evol_d2s",
        [(101, datetime.date(2001, 9, 11),
          datetime.datetime(2001, 9, 11, 8, 46, 1), "original", 1)],
        "insert_num int, c1 date, c2 timestamp, b string, part int",
        partitioned=True)
    eng.sql(
        "alter table evol_d2s replace columns "
        "(insert_num int, c1 string, c2 varchar(50), b string)"
    )
    eng.sql(
        "insert into table evol_d2s partition(part=1) "
        "select 111, 'filler', 'filler', 'new'"
    )
    con = duckdb.connect()
    assert_matches_oracle(
        eng.sql("select insert_num, part, c1, c2, b from evol_d2s"),
        con,
        """
        SELECT * FROM (VALUES
          (101, 1, '2001-09-11', '2001-09-11 08:46:01', 'original'),
          (111, 1, 'filler', 'filler', 'new'))
        AS t(insert_num, part, c1, c2, b)
        """,
    )
    con.close()


def test_q_evol_int_widening_chain_and_numeric_to_string(eng, tmp_path):
    """part_change_numeric_group_string_group: tinyint/smallint/int
    REPLACEd as STRING — numeric values format on read; and the
    unpartitioned widening variant (int → bigint remains the fast
    parquet-bindable path, no epoch)."""
    _mk(eng, tmp_path, "evol_n2s",
        [(101, 30, 32000, 483777, "original")],
        "insert_num int, c1 int, c2 int, c3 int, b string")
    eng.sql(
        "alter table evol_n2s replace columns "
        "(insert_num int, c1 string, c2 char(10), c3 varchar(25), "
        "b string)"
    )
    eng.sql(
        "insert into table evol_n2s values (111, 'one', 'two', "
        "'three', 'new')"
    )
    con = duckdb.connect()
    assert_matches_oracle(
        eng.sql("select insert_num, c1, c2, c3, b from evol_n2s"),
        con,
        """
        SELECT insert_num, c1, rpad(c2, 10, ' ') AS c2, c3, b
        FROM (VALUES
          (101, '30', '32000', '483777', 'original'),
          (111, 'one', 'two', 'three', 'new'))
        AS t(insert_num, c1, c2, c3, b)
        """,
    )
    # widening stays the zero-epoch fast path
    _mk(eng, tmp_path, "evol_widen", [(1, 5)], "k int, v int")
    eng.sql("alter table evol_widen change column v v bigint")
    assert eng.metastore["evol_widen"].epochs == []
    assert eng.sql("select v from evol_widen").collect()[0].v == 5
    con.close()


def test_q_evol_guard_default_still_rejects(spark, tmp_path):
    """With the conf at its Hive DEFAULT (true), an incompatible
    change stays a typed error — conversion is opt-in exactly like the
    reference."""
    e = Engine(spark=spark)
    _mk(e, tmp_path, "evol_guard", [(1, "x")], "k int, v string")
    with pytest.raises(HiveQLUnsupportedError):
        e.sql("alter table evol_guard change column v v double")


def test_q_evol_update_rewrites_collapse_epochs(eng, tmp_path):
    """schema_evol_orc_acid_table_update.q analogue: an UPDATE after a
    converting alter rewrites the files under the NEW schema — the
    epoch bookkeeping drains and reads return to the single-scan
    plan."""
    _mk(eng, tmp_path, "evol_upd",
        [(1, "10.5"), (2, "20.25")], "k int, v string")
    eng.sql(
        "alter table evol_upd replace columns (k int, v double)"
    )
    assert eng.metastore["evol_upd"].epochs
    assert {r.v for r in eng.sql("select v from evol_upd").collect()} \
        == {10.5, 20.25}
    eng.sql("update evol_upd set v = v * 2")
    assert {r.v for r in eng.sql("select v from evol_upd").collect()} \
        == {21.0, 40.5}
    # the rewrite replaced every pre-alter file → epochs drained
    eng.sql("select count(*) from evol_upd").collect()
    assert eng.metastore["evol_upd"].epochs == []
