"""Schema-evolution DDL (ALTER TABLE ADD/CHANGE/REPLACE COLUMNS),
TBLPROPERTIES, SHOW COLUMNS, and view DDL through Engine.sql.

Reference: parse/DDLSemanticAnalyzer.java analyzeAlterTableModifyCols /
analyzeAlterTableRenameCol / analyzeAlterTableProps; view analysis in
parse/SemanticAnalyzer.java (createView) and exec/DDLTask.java's
dropTable view guards. Hive's ALTERs are metastore-metadata-only and
parquet binds by NAME at read time — the tests pin exactly those
semantics (added column reads NULL from old files; a renamed column
orphans its data)."""

from __future__ import annotations

import os
import shutil

import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError


@pytest.fixture()
def eng(spark, tmp_path):
    path = str(tmp_path / "evo_tbl")
    spark.range(4).selectExpr(
        "id AS k", "CAST(id * 2 AS INT) AS v"
    ).write.parquet(path)
    e = Engine(spark=spark)
    e.register_table("evo", path)
    return e, path


def _described(e, table, col) -> dict:
    """DESCRIBE t col as {info_name: info_value}."""
    return {r[0]: r[1] for r in e.sql(f"DESCRIBE {table} {col}").collect()}


def _stats_values(desc: dict) -> list:
    """The six column-statistics values of a DESCRIBE t col result."""
    return [
        desc[k] for k in ("min", "max", "num_nulls", "distinct_count",
                          "avg_col_len", "max_col_len")
    ]


def test_add_columns_reads_null_then_insert_fills(spark, eng):
    e, path = eng
    e.sql("ALTER TABLE evo ADD COLUMNS (tag STRING COMMENT 'c', score DOUBLE)")
    rows = {r.k: (r.tag, r.score) for r in e.sql("SELECT * FROM evo").collect()}
    assert rows[0] == (None, None)
    e.sql("INSERT INTO evo SELECT 100, 9, 'fresh', 2.5")
    got = e.sql("SELECT * FROM evo WHERE k = 100").collect()[0]
    assert (got.v, got.tag, got.score) == (9, "fresh", 2.5)
    # old rows still NULL in the evolved columns
    assert e.sql("SELECT tag FROM evo WHERE k = 0").collect()[0].tag is None


def test_evolved_column_survives_dml_rewrite(spark, eng):
    """The 100 TB hazard: after INSERT wrote files carrying the new
    column, a DELETE rewrite reading with ONE old file's schema would
    silently drop it. The overlay-aware read must preserve it."""
    e, path = eng
    e.sql("ALTER TABLE evo ADD COLUMNS (tag STRING)")
    e.sql("INSERT INTO evo SELECT 100, 9, 'keepme'")
    e.sql("DELETE FROM evo WHERE k = 1")
    rows = {r.k: r.tag for r in e.sql("SELECT k, tag FROM evo").collect()}
    assert 1 not in rows
    assert rows[100] == "keepme"
    # UPDATE path too
    e.sql("UPDATE evo SET tag = 'patched' WHERE k = 0")
    rows = {r.k: r.tag for r in e.sql("SELECT k, tag FROM evo").collect()}
    assert rows[0] == "patched" and rows[100] == "keepme"


def test_add_columns_duplicate_is_typed_error(eng):
    e, _ = eng
    with pytest.raises(HiveQLUnsupportedError, match="duplicates"):
        e.sql("ALTER TABLE evo ADD COLUMNS (v INT)")


def test_add_columns_nested_type_parses(eng):
    e, _ = eng
    e.sql(
        "ALTER TABLE evo ADD COLUMNS "
        "(meta struct<a:int,b:string>, xs array<struct<p:int,q:double>>)"
    )
    fields = {
        f.name: f.dataType.simpleString()
        for f in e.metastore["evo"].frame.schema
    }
    assert fields["meta"] == "struct<a:int,b:string>"
    assert fields["xs"] == "array<struct<p:int,q:double>>"


def test_change_column_rename_orphans_data(eng):
    """Hive-on-parquet documented behavior: rename is metadata-only and
    parquet binds by name, so the renamed column reads NULL even from
    files that carried values under the old name."""
    e, _ = eng
    e.sql("ALTER TABLE evo ADD COLUMNS (tag STRING)")
    e.sql("INSERT INTO evo SELECT 100, 9, 'orphaned'")
    e.sql("ALTER TABLE evo CHANGE COLUMN tag label STRING")
    vals = [r.label for r in e.sql("SELECT label FROM evo").collect()]
    assert vals == [None] * len(vals)
    names = [f.name for f in e.metastore["evo"].frame.schema]
    assert "label" in names and "tag" not in names


def test_change_column_widen_and_reorder(eng):
    e, _ = eng
    e.sql("ALTER TABLE evo CHANGE v v BIGINT")
    assert dict(e.metastore["evo"].frame.dtypes)["v"] == "bigint"
    # values survive the widening
    assert {r.v for r in e.sql("SELECT v FROM evo").collect()} == {0, 2, 4, 6}
    e.sql("ALTER TABLE evo CHANGE v v BIGINT FIRST")
    assert e.metastore["evo"].frame.columns[0] == "v"
    e.sql("ALTER TABLE evo CHANGE v v BIGINT AFTER k")
    assert e.metastore["evo"].frame.columns == ["k", "v"]


def test_change_column_incompatible_type_typed_error(eng):
    e, _ = eng
    with pytest.raises(HiveQLUnsupportedError, match="parquet-compatible"):
        e.sql("ALTER TABLE evo CHANGE v v STRING")
    with pytest.raises(HiveQLUnsupportedError, match="no such column"):
        e.sql("ALTER TABLE evo CHANGE nope nope INT")
    with pytest.raises(HiveQLUnsupportedError, match="already exists"):
        e.sql("ALTER TABLE evo CHANGE v k INT")


def test_change_partition_column_typed_error(spark, tmp_path):
    path = str(tmp_path / "evo_part")
    spark.range(4).selectExpr(
        "id AS k", "CAST(id % 2 AS STRING) AS p"
    ).write.partitionBy("p").parquet(path)
    e = Engine(spark=spark)
    e.register_table("evop", path, ["p"])
    with pytest.raises(HiveQLUnsupportedError, match="partition column"):
        e.sql("ALTER TABLE evop CHANGE p q STRING")
    with pytest.raises(HiveQLUnsupportedError, match="partition column"):
        e.sql("ALTER TABLE evop REPLACE COLUMNS (k BIGINT, p STRING)")
    # ADD COLUMNS goes before the partition columns (Hive order)
    e.sql("ALTER TABLE evop ADD COLUMNS (tag STRING)")
    assert e.metastore["evop"].frame.columns == ["k", "tag", "p"]


def test_replace_columns_drops_from_reads(eng):
    e, _ = eng
    e.sql("ALTER TABLE evo REPLACE COLUMNS (k BIGINT)")
    assert e.metastore["evo"].frame.columns == ["k"]
    assert e.sql("SELECT * FROM evo").columns == ["k"]
    with pytest.raises(HiveQLUnsupportedError, match="twice"):
        e.sql("ALTER TABLE evo REPLACE COLUMNS (k BIGINT, k BIGINT)")
    with pytest.raises(HiveQLUnsupportedError, match="parquet-compatible"):
        e.sql("ALTER TABLE evo REPLACE COLUMNS (k STRING)")


def test_tblproperties_roundtrip(eng):
    e, _ = eng
    e.sql("ALTER TABLE evo SET TBLPROPERTIES ('comment'='c1', 'owner'='me')")
    e.sql("ALTER TABLE evo SET TBLPROPERTIES ('comment'='c2')")
    props = {r.key: r.value for r in e.sql("SHOW TBLPROPERTIES evo").collect()}
    assert props == {"comment": "c2", "owner": "me"}
    one = e.sql("SHOW TBLPROPERTIES evo('owner')").collect()
    assert one[0].value == "me"
    e.sql("ALTER TABLE evo UNSET TBLPROPERTIES IF EXISTS ('gone', 'owner')")
    with pytest.raises(HiveQLUnsupportedError, match="no property"):
        e.sql("ALTER TABLE evo UNSET TBLPROPERTIES ('owner')")
    with pytest.raises(HiveQLUnsupportedError, match="no property"):
        e.sql("SHOW TBLPROPERTIES evo('owner')")
    # DESCRIBE FORMATTED surfaces the parameters section
    rows = [tuple(r)[:2] for r in e.sql("DESCRIBE FORMATTED evo").collect()]
    assert ("# Table Parameters", "") in rows
    assert ("comment", "c2") in rows


def test_show_columns_order(eng):
    e, _ = eng
    assert [r.field for r in e.sql("SHOW COLUMNS FROM evo").collect()] == [
        "k",
        "v",
    ]
    assert [r.field for r in e.sql("SHOW COLUMNS IN evo").collect()] == [
        "k",
        "v",
    ]


def test_view_lifecycle(eng):
    e, _ = eng
    e.sql("CREATE VIEW ev_v1 (kk, vv) AS SELECT k, v FROM evo WHERE k >= 2")
    got = sorted((r.kk, r.vv) for r in e.sql("SELECT * FROM ev_v1").collect())
    assert got == [(2, 4), (3, 6)]
    # stacked views
    e.sql("CREATE VIEW ev_v2 AS SELECT kk * 10 AS kx FROM ev_v1")
    assert sorted(r.kx for r in e.sql("SELECT * FROM ev_v2").collect()) == [
        20,
        30,
    ]
    ddl = e.sql("SHOW CREATE TABLE ev_v1").collect()[0].createtab_stmt
    # the explicit column list must replay (r5 ADVICE fix)
    assert ddl.startswith("CREATE VIEW `ev_v1` (`kk`, `vv`) AS")
    e.sql("ALTER VIEW ev_v1 AS SELECT k AS kk FROM evo")
    assert e.sql("SELECT * FROM ev_v1").columns == ["kk"]
    e.sql("DROP VIEW ev_v2")
    e.sql("DROP VIEW IF EXISTS ev_v2")  # idempotent with IF EXISTS
    e.sql("DROP VIEW ev_v1")


def test_view_guards(eng):
    e, _ = eng
    e.sql("CREATE VIEW ev_g1 AS SELECT k FROM evo")
    with pytest.raises(HiveQLUnsupportedError, match="already exists"):
        e.sql("CREATE VIEW ev_g1 AS SELECT v FROM evo")
    e.sql("CREATE VIEW IF NOT EXISTS ev_g1 AS SELECT v FROM evo")  # no-op
    assert e.sql("SELECT * FROM ev_g1").columns == ["k"]
    e.sql("CREATE OR REPLACE VIEW ev_g1 AS SELECT v FROM evo")
    assert e.sql("SELECT * FROM ev_g1").columns == ["v"]
    with pytest.raises(HiveQLUnsupportedError, match="already exists as a table"):
        e.sql("CREATE VIEW evo AS SELECT 1")
    with pytest.raises(HiveQLUnsupportedError, match="DROP TABLE"):
        e.sql("DROP TABLE ev_g1")
    with pytest.raises(HiveQLUnsupportedError, match="DROP VIEW"):
        e.sql("DROP VIEW evo")
    with pytest.raises(HiveQLUnsupportedError, match="no such view"):
        e.sql("ALTER VIEW ev_none AS SELECT 1")
    with pytest.raises(HiveQLUnsupportedError, match="column list"):
        e.sql("CREATE VIEW ev_bad (a, b, c) AS SELECT k FROM evo")
    e.sql("DROP VIEW ev_g1")


def test_drop_table_external_semantics(spark, eng):
    e, path = eng
    e.sql("ALTER TABLE evo SET TBLPROPERTIES ('x'='1')")
    e.sql("DROP TABLE evo")
    assert "evo" not in e.metastore
    assert os.path.exists(path)  # EXTERNAL: files stay
    # no longer registered → the statement falls through to spark.sql,
    # which reports the missing relation (typed AnalysisException)
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        e.sql("DELETE FROM evo WHERE k = 0")
    # re-register over the surviving files
    e.register_table("evo", path)
    assert e.sql("SELECT COUNT(*) AS n FROM evo").collect()[0].n == 4


def test_export_carries_declared_schema(spark, eng, tmp_path):
    e, _ = eng
    e.sql("ALTER TABLE evo ADD COLUMNS (tag STRING)")
    out = str(tmp_path / "evo_export")
    e.sql(f"EXPORT TABLE evo TO '{out}'")
    import json

    meta = json.load(open(os.path.join(out, "_metadata.json")))
    assert "tag" in meta["schema_json"]


@pytest.fixture()
def part_pair(spark, tmp_path):
    """Two identically-partitioned tables for EXCHANGE/RENAME PARTITION."""
    e = Engine(spark=spark)
    for t, keys in (("ex_a", [0, 1]), ("ex_b", [2, 3])):
        path = str(tmp_path / t)
        spark.createDataFrame(
            [(i, f"p{k}") for k in keys for i in range(5)],
            "v long, p string",
        ).repartition("p").write.partitionBy("p").parquet(path)
        e.register_table(t, path, ["p"])
    return e, str(tmp_path)


def test_exchange_partition_moves_directory(spark, part_pair):
    """ALTER TABLE dest EXCHANGE PARTITION WITH TABLE src — the
    partition MOVES (gone from src, present in dest), no data rewrite."""
    e, root = part_pair
    n = e.sql(
        "ALTER TABLE ex_a EXCHANGE PARTITION (p='p2') WITH TABLE ex_b"
    ).collect()[0].rows_affected
    assert n == 5
    a_parts = {r.partition for r in e.sql("SHOW PARTITIONS ex_a").collect()}
    b_parts = {r.partition for r in e.sql("SHOW PARTITIONS ex_b").collect()}
    assert "p=p2" in a_parts and "p=p2" not in b_parts
    assert e.sql("SELECT COUNT(*) AS n FROM ex_a").collect()[0].n == 15
    assert e.sql("SELECT COUNT(*) AS n FROM ex_b").collect()[0].n == 5
    # destination partition exists → typed error
    with pytest.raises(HiveQLUnsupportedError, match="already exists"):
        e.sql("ALTER TABLE ex_b EXCHANGE PARTITION (p='p3') WITH TABLE ex_b")
    # missing source partition → typed error
    with pytest.raises(HiveQLUnsupportedError, match="no partition|no such"):
        e.sql("ALTER TABLE ex_a EXCHANGE PARTITION (p='p9') WITH TABLE ex_b")


def test_exchange_partition_schema_guard(spark, part_pair, tmp_path):
    e, root = part_pair
    other = str(tmp_path / "ex_c")
    e.spark.createDataFrame(
        [(1, "x", "p5")], "v long, extra string, p string"
    ).write.partitionBy("p").parquet(other)
    e.register_table("ex_c", other, ["p"])
    with pytest.raises(HiveQLUnsupportedError, match="identical|compatible"):
        e.sql("ALTER TABLE ex_a EXCHANGE PARTITION (p='p5') WITH TABLE ex_c")
    unpart = str(tmp_path / "ex_u")
    e.spark.range(3).write.parquet(unpart)
    e.register_table("ex_u", unpart)
    with pytest.raises(HiveQLUnsupportedError, match="partitioned"):
        e.sql("ALTER TABLE ex_a EXCHANGE PARTITION (p='p0') WITH TABLE ex_u")


def test_rename_partition(spark, part_pair):
    e, _ = part_pair
    n = e.sql(
        "ALTER TABLE ex_a PARTITION (p='p0') RENAME TO PARTITION (p='p7')"
    ).collect()[0].rows_affected
    assert n == 5
    parts = {r.partition for r in e.sql("SHOW PARTITIONS ex_a").collect()}
    assert parts == {"p=p1", "p=p7"}
    with pytest.raises(HiveQLUnsupportedError, match="no such partition"):
        e.sql("ALTER TABLE ex_a PARTITION (p='p0') RENAME TO PARTITION (p='p8')")
    with pytest.raises(HiveQLUnsupportedError, match="already exists"):
        e.sql("ALTER TABLE ex_a PARTITION (p='p1') RENAME TO PARTITION (p='p7')")


def test_set_location(spark, eng, tmp_path):
    e, path = eng
    alt = str(tmp_path / "alt_loc")
    e.spark.range(7).selectExpr("id AS k", "CAST(id AS INT) AS v").write.parquet(alt)
    e.sql(f"ALTER TABLE evo SET LOCATION '{alt}'")
    assert e.sql("SELECT COUNT(*) AS n FROM evo").collect()[0].n == 7
    assert os.path.exists(path)  # old data untouched
    with pytest.raises(HiveQLUnsupportedError, match="does not exist"):
        e.sql("ALTER TABLE evo SET LOCATION '/no/such/dir'")


def test_drop_last_partition_keeps_table_queryable(spark, tmp_path):
    """Dropping (or exchanging away) a table's LAST partition leaves an
    empty directory tree — Hive keeps the table queryable because the
    metastore carries the schema. The engine serves the remembered
    schema as an empty relation and the next INSERT re-materializes."""
    path = str(tmp_path / "last_part")
    spark.createDataFrame(
        [(1, "p0"), (2, "p0")], "k bigint, p string"
    ).repartition("p").write.partitionBy("p").parquet(path)
    e = Engine(spark=spark)
    e.register_table("lp", path, ["p"])
    e.sql("ALTER TABLE lp DROP PARTITION (p='p0')")
    assert e.sql("SELECT COUNT(*) AS n FROM lp").collect()[0].n == 0
    assert e.metastore["lp"].frame.columns == ["k", "p"]
    # still INSERTable; data comes back
    e.sql("INSERT INTO lp VALUES (5, 'p1')")
    got = e.sql("SELECT k, p FROM lp").collect()
    assert [(r.k, r.p) for r in got] == [(5, "p1")]


def test_dml_on_emptied_table_and_broken_view_refresh(spark, tmp_path):
    """Review findings: DELETE/UPDATE on a table whose last partition
    was dropped must operate on the empty relation (not crash schema
    inference); a dependent view whose text stops resolving after
    REPLACE COLUMNS is dropped (late-binding failure surfaces at view
    query time) while the ALTER itself succeeds."""
    path = str(tmp_path / "empt")
    spark.createDataFrame(
        [(1, "p0")], "k bigint, p string"
    ).repartition("p").write.partitionBy("p").parquet(path)
    e = Engine(spark=spark)
    e.register_table("empt", path, ["p"])
    e.sql("ALTER TABLE empt DROP PARTITION (p='p0')")
    assert e.sql("DELETE FROM empt WHERE k = 1").collect()[0].rows_affected == 0
    e.sql("UPDATE empt SET k = 2 WHERE k = 1")
    assert e.sql("SELECT COUNT(*) AS n FROM empt").collect()[0].n == 0

    path2 = str(tmp_path / "vw_base")
    spark.range(3).selectExpr("id AS a", "id*2 AS b").write.parquet(path2)
    e.register_table("vwb", path2)
    e.sql("CREATE VIEW vw_over AS SELECT a, b FROM vwb")
    # drop column b from the declared schema; the view text breaks
    e.sql("ALTER TABLE vwb REPLACE COLUMNS (a BIGINT)")  # must not raise
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        e.sql("SELECT * FROM vw_over").collect()
    assert "vw_over" in e.views  # definition retained (SHOW CREATE works)


def test_create_view_cannot_shadow_catalog_table(spark, tmp_path):
    e = Engine(spark=spark)
    e.spark.sql("DROP TABLE IF EXISTS shadow_t")
    e.sql(
        "CREATE TABLE shadow_t (k INT) STORED AS PARQUET "
        f"LOCATION '{tmp_path}/shadow_t'"
    )
    with pytest.raises(HiveQLUnsupportedError, match="already exists"):
        e.sql("CREATE VIEW shadow_t AS SELECT 1 AS x")
    e.spark.sql("DROP TABLE shadow_t")


def test_analyze_for_columns_case_insensitive(spark, tmp_path):
    path = str(tmp_path / "ci_tbl")
    spark.range(4).selectExpr("id AS K_Mixed").write.parquet(path)
    e = Engine(spark=spark)
    e.register_table("ci", path)
    out = e.sql(
        "ANALYZE TABLE ci COMPUTE STATISTICS FOR COLUMNS k_mixed"
    ).collect()
    assert out[0].col_name == "K_Mixed" and out[0].distinct_count == 4


def test_nb_degenerate_inputs_typed_errors(spark):
    from hive_2_3_2_spark.llm import lm as L

    one_class = spark.createDataFrame(
        [(1, "hello world", True), (2, "more words", True)],
        "doc_id long, text string, label boolean",
    )
    with pytest.raises(ValueError, match="BOTH classes"):
        L.train_nb_model(one_class)
    empty_vocab = spark.createDataFrame(
        [(1, "123 456", True), (2, "789", False)],
        "doc_id long, text string, label boolean",
    )
    with pytest.raises(ValueError, match="empty\\s+vocabulary"):
        L.train_nb_model(empty_vocab)


# --- r5: metastore-state lifecycle across RENAME / DROP / retype ------
# (reference: exec/DDLTask.java alterTable carries the full table object
# — parameters, cols, stats — to the new name; dropTable removes them;
# ColumnStatsTask stats are invalidated by rename/retype alters.)


def test_rename_migrates_overlay_props_and_stats(spark, eng, tmp_path):
    e, path = eng
    e.sql("ALTER TABLE evo ADD COLUMNS (tag STRING)")
    e.sql("ALTER TABLE evo SET TBLPROPERTIES ('owner' = 'etl')")
    e.sql("ANALYZE TABLE evo COMPUTE STATISTICS FOR COLUMNS v")
    e.sql("ALTER TABLE evo RENAME TO evo2")
    # the declared (evolved) column survives the rename
    assert "tag" in e.metastore["evo2"].frame.columns
    assert e.sql("SELECT tag FROM evo2").collect()[0].tag is None
    # TBLPROPERTIES and column stats travel with the table
    assert e.metastore["evo2"].props["owner"] == "etl"
    assert _described(e, "evo2", "v")["max"] == "6"
    # nothing orphaned under the old key
    assert "evo" not in e.metastore
    e.register_table("evo", path)  # the same files under the old name
    assert _stats_values(_described(e, "evo", "v")) == [""] * 6
    # a future table registered under the old name must NOT inherit
    # the renamed table's overlay
    p2 = str(tmp_path / "fresh_evo")
    spark.range(3).selectExpr("id AS a", "id + 1 AS b").write.parquet(p2)
    e.register_table("evo", p2)
    assert sorted(e.metastore["evo"].frame.columns) == ["a", "b"]


def test_drop_table_drops_stale_dependent_view(spark, eng):
    e, path = eng
    e.sql("CREATE VIEW v_over_evo AS SELECT k, v FROM evo")
    assert len(e.sql("SELECT * FROM v_over_evo").collect()) == 4
    e.sql("DROP TABLE evo")
    # the view must not keep serving the dropped table's data
    with pytest.raises(Exception):
        spark.sql("SELECT * FROM v_over_evo").collect()
    # late binding: the stored view TEXT survives, so re-registering the
    # base table resolves the view again
    e.register_table("evo", path)
    assert len(e.sql("SELECT * FROM v_over_evo").collect()) == 4


def test_drop_view_drops_stale_stacked_view(spark, eng):
    e, _ = eng
    e.sql("CREATE VIEW v_base_evo AS SELECT k, v FROM evo")
    e.sql("CREATE VIEW v_stack_evo AS SELECT SUM(v) AS s FROM v_base_evo")
    assert e.sql("SELECT s FROM v_stack_evo").collect()[0].s == 12
    e.sql("DROP VIEW v_base_evo")
    with pytest.raises(Exception):
        spark.sql("SELECT * FROM v_stack_evo").collect()


def test_show_create_view_roundtrips_column_list(spark, eng):
    e, _ = eng
    e.sql("CREATE VIEW v_aliased (a, b) AS SELECT k, v FROM evo")
    ddl = e.sql("SHOW CREATE TABLE v_aliased").collect()[0].createtab_stmt
    assert "(`a`, `b`)" in ddl
    e.sql("DROP VIEW v_aliased")
    e.sql(ddl)  # replaying the emitted DDL recreates the same columns
    got = e.sql("SELECT a, b FROM v_aliased ORDER BY a").collect()
    assert [r.a for r in got] == [0, 1, 2, 3]


def test_change_column_stats_follow_rename_then_retype(eng):
    e, _ = eng
    e.sql("ANALYZE TABLE evo COMPUTE STATISTICS FOR COLUMNS v")
    assert _described(e, "evo", "v")["max"] == "6"
    # pure rename (same type): stats follow the column
    e.sql("ALTER TABLE evo CHANGE v v2 INT")
    assert _described(e, "evo", "v2")["max"] == "6"
    # ... and nothing stays under the old name for a re-added column
    e.sql("ALTER TABLE evo ADD COLUMNS (v INT)")
    assert _stats_values(_described(e, "evo", "v")) == [""] * 6
    # retype (int -> bigint widening): stats invalidated, not served stale
    e.sql("ALTER TABLE evo CHANGE v2 v2 BIGINT")
    assert _stats_values(_described(e, "evo", "v2")) == [""] * 6


def test_replace_columns_invalidates_retyped_stats(eng):
    e, _ = eng
    e.sql("ANALYZE TABLE evo COMPUTE STATISTICS FOR COLUMNS k, v")
    e.sql("ALTER TABLE evo REPLACE COLUMNS (k BIGINT, v BIGINT)")
    # k kept with identical type -> stats survive; v widened -> dropped
    assert _described(e, "evo", "k")["max"] == "3"
    assert _stats_values(_described(e, "evo", "v")) == [""] * 6


def test_show_create_table_roundtrips_evolved_partitioned(spark, tmp_path):
    """SHOW CREATE TABLE parity: the emitted DDL for a PARTITIONED
    table with an EVOLVED declared schema must replay in a fresh engine
    to the same columns, types, and partition spec (DDLTask
    showCreateTable is defined by this replayability)."""
    path = str(tmp_path / "sct_tbl")
    spark.range(6).selectExpr(
        "id AS k", "CAST(id * 2 AS INT) AS v",
        "CAST(id % 2 AS STRING) AS pt"
    ).write.partitionBy("pt").parquet(path)
    e1 = Engine(spark=spark)
    e1.register_table("sct", path, ["pt"])
    e1.sql("ALTER TABLE sct ADD COLUMNS (tag STRING)")
    ddl = e1.sql("SHOW CREATE TABLE sct").collect()[0].createtab_stmt
    assert "CREATE EXTERNAL TABLE `sct`" in ddl
    assert "PARTITIONED BY" in ddl and "`pt`" in ddl
    assert "`tag` string" in ddl
    e1.sql("DROP TABLE sct")
    # Replaying lands a CATALOG table (Hive's own replay target); a
    # partitioned external table then needs MSCK REPAIR to discover
    # its partitions — exactly the Hive workflow for replayed DDL.
    e2 = Engine(spark=spark)
    spark.sql("DROP TABLE IF EXISTS sct")
    e2.sql(ddl)
    e2.sql("MSCK REPAIR TABLE sct")
    cols = dict(spark.table("sct").dtypes)
    # pt is INT on both sides: partition-VALUE type inference reads the
    # pt=0/pt=1 directories as int in the source registration too, so
    # the emitted DDL replays exactly what the original table served.
    assert cols["tag"] == "string" and cols["pt"] == "int"
    assert e2.sql("SELECT count(*) AS n FROM sct").collect()[0].n == 6
    # evolved column reads NULL from pre-evolution files (by-name bind)
    assert e2.sql(
        "SELECT count(tag) AS n FROM sct"
    ).collect()[0].n == 0
    spark.sql("DROP TABLE sct")
