"""SQL-string DML through the Engine front-end (DELETE FROM / UPDATE SET
routed to the staged-rewrite helpers — UpdateDeleteSemanticAnalyzer
parity at the Driver.run entry point)."""

from __future__ import annotations

import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError


@pytest.fixture()
def eng_with_copy(spark, sf_dir, tmp_path):
    dst = str(tmp_path / "customer_copy.parquet")
    spark.read.parquet(f"{sf_dir}/customer.parquet").write.parquet(dst)
    eng = Engine(spark=spark)
    eng.register_table("customer_copy", dst)
    return eng


def test_sql_delete_where(eng_with_copy):
    eng = eng_with_copy
    before = eng.table("customer_copy").count()
    victims = eng.table("customer_copy").filter("c_acctbal < 0").count()
    res = eng.sql("DELETE FROM customer_copy WHERE c_acctbal < 0").collect()
    assert res[0].rows_affected == victims
    after = eng.table("customer_copy")
    assert after.count() == before - victims
    assert after.filter("c_acctbal < 0").count() == 0


def test_sql_update_with_commas_and_null_cond(eng_with_copy):
    eng = eng_with_copy
    # NULL condition rows must be untouched; SET exprs contain top-level
    # commas inside function calls
    res = eng.sql(
        "UPDATE customer_copy "
        "SET c_name = concat('x', c_name), c_acctbal = c_acctbal + 1 "
        "WHERE if(c_custkey % 3 = 0, true, "
        "if(c_custkey % 3 = 1, false, cast(null as boolean)))"
    ).collect()
    t = eng.table("customer_copy")
    hit = t.filter("c_custkey % 3 = 0")
    assert res[0].rows_affected == hit.count()
    assert hit.filter("c_name NOT LIKE 'x%'").count() == 0
    # both false and NULL rows untouched
    assert t.filter("c_custkey % 3 != 0 AND c_name LIKE 'x%'").count() == 0


def test_sql_dml_unregistered_table_falls_through(spark):
    """DML on a table the Engine doesn't manage falls through to
    spark.sql — catalog-backed tables keep working; a nonexistent table
    surfaces Spark's own resolution error, not a typed rejection."""
    from pyspark.errors import AnalysisException

    eng = Engine(spark=spark)
    with pytest.raises(AnalysisException):
        eng.sql("DELETE FROM nosuch_table_xyz WHERE 1=1")


def test_sql_select_still_passes_through(eng_with_copy):
    eng = eng_with_copy
    df = eng.sql("SELECT count(*) AS n FROM customer_copy")
    assert df.collect()[0].n > 0


@pytest.fixture()
def eng_part_orders(spark, sf_dir, tmp_path):
    dst = str(tmp_path / "orders_part.parquet")
    (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .repartition("o_orderpriority")
        .write.partitionBy("o_orderpriority")
        .parquet(dst)
    )
    eng = Engine(spark=spark)
    eng.register_table("orders_part", dst, ["o_orderpriority"])
    return eng


def test_sql_insert_into_values(eng_with_copy):
    eng = eng_with_copy
    before = eng.table("customer_copy").count()
    res = eng.sql(
        "INSERT INTO customer_copy VALUES "
        "(99000001, 'Customer#99000001', 1, 12.34, 'BUILDING')"
    ).collect()
    assert res[0].rows_affected == 1
    t = eng.table("customer_copy")
    assert t.count() == before + 1
    row = t.filter("c_custkey = 99000001").collect()[0]
    assert row.c_name == "Customer#99000001"
    assert float(row.c_acctbal) == 12.34


def test_sql_insert_into_select_appends(eng_with_copy):
    eng = eng_with_copy
    before = eng.table("customer_copy").count()
    res = eng.sql(
        "INSERT INTO customer_copy "
        "SELECT c_custkey + 50000000, c_name, c_nationkey, "
        "c_acctbal, c_mktsegment "
        "FROM customer_copy WHERE c_custkey < 10"
    ).collect()
    added = res[0].rows_affected
    assert added == eng.table("customer_copy").filter(
        "c_custkey >= 50000000"
    ).count()
    assert eng.table("customer_copy").count() == before + added


def test_sql_insert_overwrite_unpartitioned(eng_with_copy):
    eng = eng_with_copy
    res = eng.sql(
        "INSERT OVERWRITE TABLE customer_copy "
        "SELECT * FROM customer_copy WHERE c_custkey <= 100"
    ).collect()
    t = eng.table("customer_copy")
    assert t.count() == res[0].rows_affected
    assert t.filter("c_custkey > 100").count() == 0


def test_sql_insert_overwrite_dynamic_partition(eng_part_orders):
    eng = eng_part_orders
    t = eng.table("orders_part")
    urgent_before = t.filter("o_orderpriority = '1-URGENT'").count()
    other_before = t.filter("o_orderpriority != '1-URGENT'").count()
    assert urgent_before > 1 and other_before > 0
    res = eng.sql(
        "INSERT OVERWRITE TABLE orders_part PARTITION (o_orderpriority) "
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderdate, o_orderpriority "
        "FROM orders_part WHERE o_orderpriority = '1-URGENT' "
        "AND o_orderkey % 2 = 0"
    ).collect()
    t = eng.table("orders_part")
    urgent_after = t.filter("o_orderpriority = '1-URGENT'").count()
    # only the touched partition replaced; others intact
    assert urgent_after == res[0].rows_affected < urgent_before
    assert t.filter("o_orderpriority != '1-URGENT'").count() == other_before


def test_sql_insert_static_partition(eng_part_orders):
    eng = eng_part_orders
    before = eng.table("orders_part").count()
    res = eng.sql(
        "INSERT INTO orders_part PARTITION (o_orderpriority = '9-TEST') "
        "SELECT o_orderkey + 90000000, o_custkey, o_orderstatus, "
        "o_totalprice, o_orderdate "
        "FROM orders_part WHERE o_orderkey < 50"
    ).collect()
    t = eng.table("orders_part")
    assert t.filter("o_orderpriority = '9-TEST'").count() == res[0].rows_affected
    assert t.count() == before + res[0].rows_affected


def test_sql_insert_column_list_fills_nulls(eng_with_copy):
    eng = eng_with_copy
    res = eng.sql(
        "INSERT INTO customer_copy (c_custkey, c_name) "
        "VALUES (77000001, 'partial')"
    ).collect()
    assert res[0].rows_affected == 1
    row = eng.table("customer_copy").filter("c_custkey = 77000001").collect()[0]
    assert row.c_name == "partial" and row.c_nationkey is None


def test_sql_insert_arity_mismatch_raises(eng_with_copy):
    with pytest.raises(HiveQLUnsupportedError, match="supplies"):
        eng_with_copy.sql(
            "INSERT INTO customer_copy SELECT 1, 2, 3"
        )


def test_sql_merge_update_and_insert(eng_with_copy, spark):
    eng = eng_with_copy
    spark.sql(
        "SELECT 1 AS k, 500.0 AS bal UNION ALL "
        "SELECT 2, 600.0 UNION ALL SELECT 88000001, 7.0"
    ).createOrReplaceTempView("merge_src")
    n_matched = eng.table("customer_copy").filter("c_custkey IN (1, 2)").count()
    res = eng.sql(
        "MERGE INTO customer_copy t USING merge_src s ON t.c_custkey = s.k "
        "WHEN MATCHED THEN UPDATE SET c_acctbal = s.bal "
        "WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal) "
        "VALUES (s.k, 'merged', s.bal)"
    ).collect()
    assert res[0].rows_affected == n_matched + 1
    t = eng.table("customer_copy")
    assert t.filter("c_custkey = 1").collect()[0].c_acctbal == 500.0
    ins = t.filter("c_custkey = 88000001").collect()[0]
    assert ins.c_name == "merged" and ins.c_nationkey is None


def test_sql_merge_matched_delete_with_condition(eng_with_copy, spark):
    eng = eng_with_copy
    eng.table("customer_copy").filter("c_custkey <= 20").select(
        "c_custkey"
    ).createOrReplaceTempView("del_src")
    victims = eng.table("customer_copy").filter(
        "c_custkey <= 20 AND c_acctbal > 0"
    ).count()
    before = eng.table("customer_copy").count()
    res = eng.sql(
        "MERGE INTO customer_copy t USING del_src s "
        "ON t.c_custkey = s.c_custkey "
        "WHEN MATCHED AND t.c_acctbal > 0 THEN DELETE"
    ).collect()
    assert res[0].rows_affected == victims
    t = eng.table("customer_copy")
    assert t.count() == before - victims
    assert t.filter("c_custkey <= 20 AND c_acctbal > 0").count() == 0


def test_sql_merge_multi_clause_update_then_delete(eng_with_copy, spark):
    """Hive's full MERGE clause surface: WHEN MATCHED AND cond THEN
    UPDATE + WHEN MATCHED THEN DELETE + WHEN NOT MATCHED INSERT.
    First-match-wins: rows claimed by the conditional UPDATE are not
    deleted; remaining matched rows are."""
    eng = eng_with_copy
    spark.sql(
        "SELECT 1 AS k, 10.0 AS bal UNION ALL "      # matched, bal <= 100 -> DELETE
        "SELECT 2, 500.0 UNION ALL "                 # matched, bal > 100 -> UPDATE
        "SELECT 88000100, 900.0"                     # unmatched -> INSERT
    ).createOrReplaceTempView("mc_src")
    before = eng.table("customer_copy").count()
    res = eng.sql(
        "MERGE INTO customer_copy t USING mc_src s ON t.c_custkey = s.k "
        "WHEN MATCHED AND s.bal > 100 THEN UPDATE SET c_acctbal = s.bal "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal) "
        "VALUES (s.k, 'mc', s.bal)"
    ).collect()
    assert res[0].rows_affected == 3  # 1 update + 1 delete + 1 insert
    t = eng.table("customer_copy")
    assert t.count() == before  # -1 deleted +1 inserted
    assert t.filter("c_custkey = 1").count() == 0
    assert t.filter("c_custkey = 2").collect()[0].c_acctbal == 500.0
    assert t.filter("c_custkey = 88000100").collect()[0].c_name == "mc"


def test_sql_merge_multi_clause_delete_then_update(eng_with_copy, spark):
    """Clause ORDER matters (first-match-wins): conditional DELETE
    first, unconditional UPDATE mops up the remaining matched rows."""
    eng = eng_with_copy
    spark.sql(
        "SELECT 3 AS k, 10.0 AS bal UNION ALL SELECT 4, 500.0"
    ).createOrReplaceTempView("mc_src2")
    res = eng.sql(
        "MERGE INTO customer_copy t USING mc_src2 s ON t.c_custkey = s.k "
        "WHEN MATCHED AND s.bal <= 100 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET c_acctbal = -1.0"
    ).collect()
    assert res[0].rows_affected == 2
    t = eng.table("customer_copy")
    assert t.filter("c_custkey = 3").count() == 0
    assert t.filter("c_custkey = 4").collect()[0].c_acctbal == -1.0


def test_sql_merge_clause_limit_rules(eng_with_copy, spark):
    """Hive's MERGE clause validation: >2 matched clauses, duplicate
    action kinds, and an unconditional FIRST of two matched clauses are
    all typed errors (UpdateDeleteSemanticAnalyzer rules)."""
    spark.sql("SELECT 1 AS k, 1.0 AS bal").createOrReplaceTempView("mc_src3")
    head = "MERGE INTO customer_copy t USING mc_src3 s ON t.c_custkey = s.k "
    with pytest.raises(HiveQLUnsupportedError, match="at most 2"):
        eng_with_copy.sql(
            head
            + "WHEN MATCHED AND s.bal > 0 THEN UPDATE SET c_acctbal = 0 "
            "WHEN MATCHED AND s.bal > 1 THEN DELETE "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(HiveQLUnsupportedError, match="one WHEN MATCHED UPDATE"):
        eng_with_copy.sql(
            head
            + "WHEN MATCHED AND s.bal > 0 THEN UPDATE SET c_acctbal = 0 "
            "WHEN MATCHED THEN UPDATE SET c_acctbal = 1"
        )
    with pytest.raises(HiveQLUnsupportedError, match="FIRST must have"):
        eng_with_copy.sql(
            head
            + "WHEN MATCHED THEN UPDATE SET c_acctbal = 0 "
            "WHEN MATCHED THEN DELETE"
        )


def test_sql_merge_non_equi_on_raises(eng_with_copy, spark):
    spark.sql("SELECT 1 AS k").createOrReplaceTempView("ne_src")
    with pytest.raises(HiveQLUnsupportedError, match="equi"):
        eng_with_copy.sql(
            "MERGE INTO customer_copy t USING ne_src s ON t.c_custkey > s.k "
            "WHEN MATCHED THEN DELETE"
        )


def test_sql_merge_partitioned_prunes_and_counts(eng_part_orders, spark):
    eng = eng_part_orders
    spark.sql(
        "SELECT 1 AS k, 'P' AS st UNION ALL SELECT 32, 'P'"
    ).createOrReplaceTempView("po_src")
    matched = eng.table("orders_part").filter("o_orderkey IN (1, 32)").count()
    assert matched > 0
    res = eng.sql(
        "MERGE INTO orders_part t USING po_src s ON t.o_orderkey = s.k "
        "WHEN MATCHED THEN UPDATE SET o_orderstatus = s.st"
    ).collect()
    assert res[0].rows_affected == matched
    assert (
        eng.table("orders_part")
        .filter("o_orderkey IN (1, 32) AND o_orderstatus = 'P'")
        .count()
        == matched
    )


def test_sql_multi_insert_fanout(eng_with_copy, spark, tmp_path):
    eng = eng_with_copy
    empty = eng.table("customer_copy").filter("1 = 0").select(
        "c_custkey", "c_acctbal"
    )
    hi, lo = str(tmp_path / "hi.parquet"), str(tmp_path / "lo.parquet")
    empty.write.parquet(hi)
    empty.write.parquet(lo)
    eng.register_table("mi_hi", hi)
    eng.register_table("mi_lo", lo)
    res = {
        r.target_table: r.rows_affected
        for r in eng.sql(
            "FROM customer_copy "
            "INSERT INTO mi_hi SELECT c_custkey, c_acctbal "
            "WHERE c_acctbal > 5000 "
            "INSERT INTO mi_lo SELECT c_custkey, c_acctbal "
            "WHERE c_acctbal <= 5000"
        ).collect()
    }
    t = eng.table("customer_copy")
    assert res["mi_hi"] == t.filter("c_acctbal > 5000").count()
    assert res["mi_lo"] == t.filter("c_acctbal <= 5000").count()
    assert res["mi_hi"] + res["mi_lo"] == t.count()
    assert eng.table("mi_hi").count() == res["mi_hi"]


def test_sql_load_data_append_and_overwrite(eng_with_copy, spark, tmp_path):
    eng = eng_with_copy
    extra = str(tmp_path / "extra.parquet")
    eng.table("customer_copy").filter("c_custkey <= 5").withColumn(
        "c_custkey", eng.table("customer_copy").c_custkey + 60000000
    ).write.parquet(extra)
    n_extra = spark.read.parquet(extra).count()
    before = eng.table("customer_copy").count()
    res = eng.sql(
        f"LOAD DATA INPATH '{extra}' INTO TABLE customer_copy"
    ).collect()
    assert res[0].rows_affected == n_extra > 0
    assert eng.table("customer_copy").count() == before + n_extra
    # OVERWRITE replaces the whole (unpartitioned) table content
    extra2 = str(tmp_path / "extra2.parquet")
    eng.table("customer_copy").filter("c_custkey <= 3").write.parquet(extra2)
    n_small = eng.table("customer_copy").filter("c_custkey <= 3").count()
    eng.sql(
        f"LOAD DATA INPATH '{extra2}' OVERWRITE INTO TABLE customer_copy"
    ).collect()
    assert eng.table("customer_copy").count() == n_small


def test_sql_load_data_static_partition(eng_part_orders, spark, tmp_path):
    eng = eng_part_orders
    data_cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate"
    extra = str(tmp_path / "urgent_extra.parquet")
    eng.table("orders_part").filter("o_orderkey <= 10").selectExpr(
        "o_orderkey + 70000000 AS o_orderkey",
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    ).write.parquet(extra)
    del data_cols
    before = eng.table("orders_part").filter(
        "o_orderpriority = '1-URGENT'"
    ).count()
    res = eng.sql(
        f"LOAD DATA INPATH '{extra}' INTO TABLE orders_part "
        "PARTITION (o_orderpriority = '1-URGENT')"
    ).collect()
    after = eng.table("orders_part").filter(
        "o_orderpriority = '1-URGENT'"
    ).count()
    assert after == before + res[0].rows_affected


def test_sql_load_data_dynamic_partition_raises(eng_part_orders, tmp_path):
    with pytest.raises(HiveQLUnsupportedError, match="static"):
        eng_part_orders.sql(
            f"LOAD DATA INPATH '{tmp_path}' INTO TABLE orders_part "
            "PARTITION (o_orderpriority)"
        )


def test_sql_truncate_table_and_partition(eng_with_copy, eng_part_orders):
    eng = eng_with_copy
    before = eng.table("customer_copy").count()
    res = eng.sql("TRUNCATE TABLE customer_copy").collect()
    assert res[0].rows_affected == before
    assert eng.table("customer_copy").count() == 0
    assert "c_custkey" in eng.table("customer_copy").columns  # schema kept

    engp = eng_part_orders
    urgent = engp.table("orders_part").filter(
        "o_orderpriority = '1-URGENT'"
    ).count()
    others = engp.table("orders_part").count() - urgent
    res = engp.sql(
        "TRUNCATE TABLE orders_part PARTITION (o_orderpriority = '1-URGENT')"
    ).collect()
    assert res[0].rows_affected == urgent
    assert engp.table("orders_part").count() == others
    with pytest.raises(HiveQLUnsupportedError, match="PARTITION"):
        engp.sql("TRUNCATE TABLE orders_part")


def test_sql_show_partitions_and_alter_partition(eng_part_orders):
    eng = eng_part_orders
    parts = [r.partition for r in eng.sql("SHOW PARTITIONS orders_part").collect()]
    assert "o_orderpriority=1-URGENT" in parts and len(parts) >= 4

    n_low = eng.table("orders_part").filter(
        "o_orderpriority = '5-LOW'"
    ).count()
    res = eng.sql(
        "ALTER TABLE orders_part DROP PARTITION (o_orderpriority = '5-LOW')"
    ).collect()
    assert res[0].rows_affected == n_low
    parts2 = [r.partition for r in eng.sql("SHOW PARTITIONS orders_part").collect()]
    assert "o_orderpriority=5-LOW" not in parts2
    with pytest.raises(HiveQLUnsupportedError, match="IF EXISTS"):
        eng.sql(
            "ALTER TABLE orders_part DROP PARTITION (o_orderpriority = '5-LOW')"
        )
    # guarded forms are no-ops
    eng.sql(
        "ALTER TABLE orders_part DROP IF EXISTS PARTITION "
        "(o_orderpriority = '5-LOW')"
    )
    eng.sql(
        "ALTER TABLE orders_part ADD IF NOT EXISTS PARTITION "
        "(o_orderpriority = '1-URGENT')"
    )


def test_sql_concatenate_compacts_files(eng_with_copy, spark, tmp_path):
    import os

    eng = eng_with_copy
    path = eng.metastore["customer_copy"].path
    # fragment the table into many small files first
    frag = spark.read.parquet(path).repartition(16)
    staging = str(tmp_path / "frag.parquet")
    frag.write.parquet(staging)
    eng.register_table("customer_copy", staging)
    n_before = eng.table("customer_copy").count()
    files_before = sum(
        1 for f in os.listdir(staging) if f.endswith(".parquet")
    )
    assert files_before >= 16
    res = eng.sql("ALTER TABLE customer_copy CONCATENATE").collect()
    assert res[0].rows_affected == n_before
    files_after = sum(
        1 for f in os.listdir(staging) if f.endswith(".parquet")
    )
    assert files_after == 1
    assert eng.table("customer_copy").count() == n_before


def test_sql_dml_on_single_file_table(spark, sf_dir, tmp_path):
    """The driver fixtures are single parquet FILES, not directories —
    every statement (CONCATENATE, INSERT, DELETE, TRUNCATE) must work on
    a file-backed table (file promoted to a directory on first append;
    swaps are file-aware)."""
    import shutil

    dst = str(tmp_path / "customer_file.parquet")
    shutil.copy(f"{sf_dir}/customer.parquet", dst)
    eng = Engine(spark=spark)
    eng.register_table("cust_file", dst)
    n0 = eng.table("cust_file").count()
    assert eng.sql("ALTER TABLE cust_file CONCATENATE").collect()[0].rows_affected == n0
    ins = eng.sql(
        "INSERT INTO cust_file SELECT c_custkey + 1000000, c_name, "
        "c_nationkey, c_acctbal, c_mktsegment FROM cust_file "
        "WHERE c_custkey < 5"
    ).collect()[0].rows_affected
    assert eng.table("cust_file").count() == n0 + ins
    assert (
        eng.sql("DELETE FROM cust_file WHERE c_custkey >= 1000000")
        .collect()[0]
        .rows_affected
        == ins
    )
    assert eng.sql("TRUNCATE TABLE cust_file").collect()[0].rows_affected == n0
    assert eng.table("cust_file").count() == 0
    assert "c_custkey" in eng.table("cust_file").columns


def test_sql_export_import_roundtrip(eng_part_orders, spark, tmp_path):
    """EXPORT writes data + a _metadata.json descriptor; IMPORT registers
    the export in place or copies it to LOCATION — partition layout and
    contents survive the round trip (ExportSemanticAnalyzer /
    ImportSemanticAnalyzer parity over CopyTask/MoveTask)."""
    eng = eng_part_orders
    n = eng.table("orders_part").count()
    exp = str(tmp_path / "orders_export")
    res = eng.sql(f"EXPORT TABLE orders_part TO '{exp}'").collect()
    assert res[0].rows_affected == n
    import os

    assert os.path.exists(f"{exp}/_metadata.json")

    res = eng.sql(f"IMPORT TABLE orders_imported FROM '{exp}'").collect()
    assert res[0].rows_affected == n
    assert eng.table("orders_imported").count() == n
    # imported table keeps partition metadata → partition DML works
    parts = eng.sql("SHOW PARTITIONS orders_imported").collect()
    assert len(parts) >= 4

    loc = str(tmp_path / "orders_copied")
    res = eng.sql(
        f"IMPORT TABLE orders_copy FROM '{exp}' LOCATION '{loc}'"
    ).collect()
    assert res[0].rows_affected == n
    assert eng.table("orders_copy").count() == n

    with pytest.raises(HiveQLUnsupportedError, match="already exists"):
        eng.sql(f"IMPORT TABLE orders_copy FROM '{exp}'")
    with pytest.raises(HiveQLUnsupportedError, match="not empty"):
        eng.sql(f"EXPORT TABLE orders_part TO '{exp}'")


def test_run_script_multi_statement(eng_with_copy):
    """CliDriver.processLine parity: ';'-separated script with comments;
    DML takes effect between statements; semicolons inside string
    literals don't split."""
    eng = eng_with_copy
    results = eng.run_script(
        """
        -- thin the table first
        DELETE FROM customer_copy WHERE c_custkey > 100;
        UPDATE customer_copy SET c_name = 'a;b' WHERE c_custkey = 1;
        SELECT count(*) AS n FROM customer_copy  -- trailing comment
        """
    )
    assert len(results) == 3
    assert results[2].collect()[0].n == eng.table("customer_copy").count()
    assert (
        eng.table("customer_copy").filter("c_custkey = 1").collect()[0].c_name
        == "a;b"
    )


def test_sql_merge_null_key_source_row_inserts(eng_with_copy, spark):
    """A source row whose join key is NULL never matches (NULL = NULL is
    not true) but Hive still routes it through WHEN NOT MATCHED INSERT —
    it must NOT survive as an all-NULL phantom target row."""
    eng = eng_with_copy
    spark.sql(
        "SELECT CAST(NULL AS BIGINT) AS k, 111.0 AS bal UNION ALL "
        "SELECT CAST(88000002 AS BIGINT), 222.0"
    ).createOrReplaceTempView("nullkey_src")
    before = eng.table("customer_copy").count()
    res = eng.sql(
        "MERGE INTO customer_copy t USING nullkey_src s ON t.c_custkey = s.k "
        "WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal) "
        "VALUES (s.k, 'nullkey', s.bal)"
    ).collect()
    assert res[0].rows_affected == 2
    t = eng.table("customer_copy")
    assert t.count() == before + 2
    ins = t.filter("c_name = 'nullkey'").orderBy("c_acctbal").collect()
    assert [r.c_acctbal for r in ins] == [111.0, 222.0]
    assert ins[0].c_custkey is None and ins[1].c_custkey == 88000002
    # no phantom: every row without the marker name has a key
    assert t.filter("c_custkey IS NULL AND c_name != 'nullkey'").count() == 0


def test_merge_upsert_api_null_key_row_inserts(spark, sf_dir, tmp_path):
    """Same NULL-key rule for the merge_upsert API: the update row is
    classified not-matched and inserted wholly, not degraded to an
    all-NULL merged row."""
    from pyspark.sql import functions as F

    from hive_2_3_2_spark.sources.writers import merge_upsert

    dst = str(tmp_path / "nation_mu.parquet")
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.parquet(dst)
    before = spark.read.parquet(dst).count()
    updates = spark.createDataFrame(
        [(None, "NULLKEY", 0, "inserted"), (0, "ALGERIA2", 0, "updated")],
        "n_nationkey bigint, n_name string, n_regionkey bigint, "
        "n_comment string",
    )
    merge_upsert(spark, dst, updates, ["n_nationkey"])
    t = spark.read.parquet(dst)
    assert t.count() == before + 1
    assert t.filter(F.col("n_nationkey").isNull()).collect()[0].n_name == (
        "NULLKEY"
    )
    assert t.filter("n_nationkey = 0").collect()[0].n_name == "ALGERIA2"


def test_sql_insert_catalog_table_falls_through(spark, tmp_path):
    """Engine.sql DML statements on a table NOT registered via
    register_table fall through to spark.sql — a catalog table the
    Engine itself created (STORED AS rewrite) stays INSERTable."""
    eng = Engine(spark=spark)
    loc = str(tmp_path / "cat_tbl")
    eng.sql(
        f"CREATE TABLE eng_cat_tbl (k INT, v STRING) STORED AS PARQUET "
        f"LOCATION '{loc}'"
    )
    try:
        eng.sql("INSERT INTO eng_cat_tbl VALUES (1, 'a'), (2, 'b')")
        assert eng.sql("SELECT count(*) AS n FROM eng_cat_tbl").collect()[
            0
        ].n == 2
        eng.sql("INSERT OVERWRITE eng_cat_tbl VALUES (3, 'c')")
        assert eng.sql("SELECT count(*) AS n FROM eng_cat_tbl").collect()[
            0
        ].n == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS eng_cat_tbl")


def test_stored_as_in_string_literal_passes_through(eng_with_copy):
    """'STORED AS X' inside a SELECT string literal is data, not DDL —
    must not be rewritten or rejected (the rewrite is CREATE TABLE
    scoped)."""
    row = eng_with_copy.sql(
        "SELECT 'STORED AS SEQUENCEFILE' AS s, c_custkey "
        "FROM customer_copy WHERE c_custkey = 1"
    ).collect()[0]
    assert row.s == "STORED AS SEQUENCEFILE"


def test_sql_load_data_partitioned_requires_partition_spec(
    eng_part_orders, tmp_path
):
    """LOAD DATA into a partitioned table without a PARTITION spec is a
    typed error (Hive rule) — moving files into the table root would
    break partition discovery on the next read."""
    src = str(tmp_path / "lf")
    eng_part_orders.table("orders_part").limit(5).drop(
        "o_orderpriority"
    ).write.parquet(src)
    with pytest.raises(HiveQLUnsupportedError, match="PARTITION spec"):
        eng_part_orders.sql(
            f"LOAD DATA INPATH '{src}' INTO TABLE orders_part"
        )


def test_sql_insert_overwrite_static_partition_empty_select_clears(
    eng_part_orders,
):
    """INSERT OVERWRITE with a fully static PARTITION spec and an empty
    SELECT still truncates the named partition (Hive clears it even for
    zero result rows); other partitions are untouched."""
    eng = eng_part_orders
    t = eng.table("orders_part")
    tgt = "1-URGENT"
    n_before = t.filter(f"o_orderpriority = '{tgt}'").count()
    total = t.count()
    assert n_before > 0
    res = eng.sql(
        "INSERT OVERWRITE orders_part PARTITION (o_orderpriority = "
        f"'{tgt}') SELECT o_orderkey, o_custkey, o_orderstatus, "
        "o_totalprice, o_orderdate "
        "FROM orders_part WHERE 1 = 0"
    ).collect()
    assert res[0].rows_affected == 0
    t = eng.table("orders_part")
    assert t.filter(f"o_orderpriority = '{tgt}'").count() == 0
    assert t.count() == total - n_before


def test_sql_delete_with_subquery_condition(eng_with_copy, spark):
    """Hive allows subqueries in DELETE/UPDATE WHERE
    (UpdateDeleteSemanticAnalyzer rewrites them like any SELECT WHERE) —
    the F.expr path must resolve IN/EXISTS subqueries against
    registered views."""
    eng = eng_with_copy
    spark.sql(
        "SELECT c_custkey AS k FROM customer_copy WHERE c_custkey <= 30"
    ).createOrReplaceTempView("del_keys")
    victims = eng.table("customer_copy").filter("c_custkey <= 30").count()
    res = eng.sql(
        "DELETE FROM customer_copy WHERE c_custkey IN (SELECT k FROM del_keys)"
    ).collect()
    assert res[0].rows_affected == victims > 0
    assert eng.table("customer_copy").filter("c_custkey <= 30").count() == 0


def test_sql_update_with_exists_condition(eng_with_copy, spark):
    eng = eng_with_copy
    spark.sql("SELECT 41 AS k UNION ALL SELECT 42").createOrReplaceTempView(
        "upd_keys"
    )
    hit = eng.table("customer_copy").filter("c_custkey IN (41, 42)").count()
    res = eng.sql(
        "UPDATE customer_copy SET c_name = 'via_exists' WHERE EXISTS "
        "(SELECT 1 FROM upd_keys u WHERE u.k = c_custkey)"
    ).collect()
    assert res[0].rows_affected == hit > 0
    assert (
        eng.table("customer_copy").filter("c_name = 'via_exists'").count()
        == hit
    )


def test_run_script_variable_substitution(eng_with_copy):
    """VariableSubstitution parity: ${hiveconf:name} / ${name}
    placeholders resolve from the variables dict; unbound ones raise
    typed (the reference's q_test_init.sql relies on hiveconf vars)."""
    eng = eng_with_copy
    expected = eng.table("customer_copy").filter("c_custkey <= 10").count()
    out = eng.run_script(
        "SELECT count(*) AS n FROM customer_copy "
        "WHERE c_custkey <= ${hiveconf:max.key};"
        "SELECT '${tag}' AS t",
        variables={"max.key": "10", "tag": "scripted"},
    )
    assert out[0].collect()[0].n == expected > 0
    assert out[1].collect()[0].t == "scripted"
    with pytest.raises(HiveQLUnsupportedError, match="unbound script"):
        eng.run_script("SELECT ${nope}", variables={})


def test_sql_merge_when_matched_literal_in_string(eng_with_copy, spark):
    """A string literal containing ' WHEN MATCHED THEN DELETE ' inside
    an UPDATE SET expression must NOT be treated as a clause boundary
    (the WHEN splitter is quote-aware, like the reference's grammar)."""
    eng = eng_with_copy
    spark.sql("SELECT 5 AS k").createOrReplaceTempView("lit_src")
    res = eng.sql(
        "MERGE INTO customer_copy t USING lit_src s ON t.c_custkey = s.k "
        "WHEN MATCHED THEN UPDATE SET "
        "c_name = 'note: WHEN MATCHED THEN DELETE everything'"
    ).collect()
    assert res[0].rows_affected == 1
    assert (
        eng.table("customer_copy").filter("c_custkey = 5").collect()[0].c_name
        == "note: WHEN MATCHED THEN DELETE everything"
    )


def test_sql_merge_case_when_condition(eng_with_copy, spark):
    """CASE WHEN ... THEN ... END inside a clause CONDITION: the inner
    WHEN/THEN keywords belong to the CASE expression, not the MERGE
    grammar."""
    eng = eng_with_copy
    spark.sql(
        "SELECT 6 AS k, 1 AS flag UNION ALL SELECT 7, 0"
    ).createOrReplaceTempView("case_src")
    res = eng.sql(
        "MERGE INTO customer_copy t USING case_src s ON t.c_custkey = s.k "
        "WHEN MATCHED AND CASE WHEN s.flag = 1 THEN true ELSE false END "
        "THEN UPDATE SET c_name = 'case_hit' "
        "WHEN MATCHED THEN DELETE"
    ).collect()
    assert res[0].rows_affected == 2
    t = eng.table("customer_copy")
    assert t.filter("c_custkey = 6").collect()[0].c_name == "case_hit"
    assert t.filter("c_custkey = 7").count() == 0


def test_sql_insert_overwrite_directory(spark, sf_dir, tmp_path):
    """INSERT OVERWRITE DIRECTORY (SemanticAnalyzer's writing-to-path
    form, the ad-hoc export statement) — not a table statement, so it
    rides the passthrough and Spark executes it natively."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    out = str(tmp_path / "export_dir")
    eng.sql(
        f"INSERT OVERWRITE DIRECTORY '{out}' USING parquet "
        "SELECT n_nationkey, n_name FROM nation"
    )
    back = spark.read.parquet(out)
    assert back.count() == 25
    assert set(back.columns) == {"n_nationkey", "n_name"}


def test_sql_with_cte_before_insert(eng_with_copy):
    """Hive's CTE-led INSERT: WITH c AS (...) INSERT INTO t SELECT FROM
    c — the CTE prefix folds into the insert body so the statement
    routes through the staged-insert path, not the passthrough."""
    eng = eng_with_copy
    before = eng.table("customer_copy").count()
    res = eng.sql(
        "WITH topc AS (SELECT c_custkey + 60000000 AS k, c_name "
        "FROM customer_copy WHERE c_custkey <= 5) "
        "INSERT INTO customer_copy (c_custkey, c_name) "
        "SELECT k, c_name FROM topc"
    ).collect()
    added = res[0].rows_affected
    assert added == eng.table("customer_copy").filter(
        "c_custkey >= 60000000"
    ).count() > 0
    assert eng.table("customer_copy").count() == before + added


def test_sql_msck_repair_discovers_new_partition(eng_part_orders, spark):
    """MSCK REPAIR TABLE picks up a partition directory dropped in
    out-of-band (HiveMetaStoreChecker parity) and reports the current
    partition count."""
    import os

    eng = eng_part_orders
    path = eng.metastore["orders_part"].path
    n_before = eng.sql("MSCK REPAIR TABLE orders_part").collect()[0]
    newdir = os.path.join(path, "o_orderpriority=X-OOB")
    os.makedirs(newdir)
    eng.table("orders_part").limit(3).drop("o_orderpriority").write.mode(
        "overwrite"
    ).parquet(newdir)
    res = eng.sql("MSCK REPAIR TABLE orders_part").collect()[0]
    assert res.rows_affected == n_before.rows_affected + 1
    assert (
        eng.table("orders_part")
        .filter("o_orderpriority = 'X-OOB'")
        .count()
        == 3
    )


def test_sql_alter_table_rename(eng_with_copy):
    """ALTER TABLE ... RENAME TO: external-table semantics — data stays
    put, the registration moves; the old name stops resolving for DML
    and the new name works end-to-end."""
    eng = eng_with_copy
    n = eng.table("customer_copy").count()
    eng.sql("ALTER TABLE customer_copy RENAME TO customer_renamed")
    assert eng.table("customer_renamed").count() == n
    res = eng.sql(
        "DELETE FROM customer_renamed WHERE c_custkey <= 10"
    ).collect()
    assert res[0].rows_affected > 0
    with pytest.raises(HiveQLUnsupportedError, match="already exists"):
        eng.sql("ALTER TABLE customer_renamed RENAME TO customer_renamed")


def test_sql_analyze_table_footer_stats(eng_with_copy):
    """ANALYZE TABLE on a path-backed table returns footer-derived
    numRows/totalSize without scanning (StatsTask basic-stats parity)."""
    eng = eng_with_copy
    n = eng.table("customer_copy").count()
    row = eng.sql(
        "ANALYZE TABLE customer_copy COMPUTE STATISTICS"
    ).collect()[0]
    assert row.num_rows == n and row.total_size_bytes > 0
    # FOR COLUMNS now computes real per-column statistics
    # (ColumnStatsTask parity) instead of echoing the basic stats
    cols = {r.col_name: r for r in eng.sql(
        "ANALYZE TABLE customer_copy COMPUTE STATISTICS "
        "FOR COLUMNS c_custkey, c_acctbal"
    ).collect()}
    assert set(cols) == {"c_custkey", "c_acctbal"}
    assert cols["c_custkey"].num_nulls == 0
    assert cols["c_custkey"].distinct_count > 0


def test_explain_dml_stages_without_executing(eng_with_copy):
    """EXPLAIN over intercepted DML (ExplainTask.java:117 parity):
    stage breakdown + the read-side Spark plan, target untouched."""
    eng = eng_with_copy
    before = eng.table("customer_copy").count()
    lines = [
        r.plan
        for r in eng.sql(
            "EXPLAIN DELETE FROM customer_copy WHERE c_acctbal < 0"
        ).collect()
    ]
    text = "\n".join(lines)
    assert "STAGE DEPENDENCIES" in text
    assert "Stage-3 swap" in text
    assert "delete condition: c_acctbal < 0" in text
    assert "Physical Plan" in text  # real Spark plan of the matched scan
    assert eng.table("customer_copy").count() == before  # nothing ran

    lines = [
        r.plan
        for r in eng.sql(
            "EXPLAIN UPDATE customer_copy SET c_acctbal = 0 "
            "WHERE c_acctbal < 0"
        ).collect()
    ]
    assert any("set: c_acctbal = 0" in ln for ln in lines)

    lines = [
        r.plan
        for r in eng.sql(
            "EXPLAIN INSERT INTO customer_copy "
            "SELECT * FROM customer_copy WHERE c_custkey < 0"
        ).collect()
    ]
    assert any("SOURCE QUERY PLAN:" in ln for ln in lines)
    assert eng.table("customer_copy").count() == before

    # EXPLAIN SELECT still passes through to Spark's explain
    rows = eng.sql("EXPLAIN SELECT 1 AS one").collect()
    assert rows and rows[0].plan


def test_explain_dml_reads_target_like_the_statement(spark, tmp_path):
    """EXPLAIN DELETE/UPDATE plan the same declared-schema read the
    statements rewrite: a column added by ADD COLUMNS, and present only
    in files written after it, resolves. The stage text says what the
    rewrite core runs: no discovery job for an unpartitioned target."""
    path = str(tmp_path / "evo")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    ).write.parquet(path)
    eng = Engine(spark=spark)
    eng.register_table("evo", path)
    eng.sql("ALTER TABLE evo ADD COLUMNS (w INT)")
    eng.sql("INSERT INTO evo VALUES (4, 'd', 7)")

    def explain(stmt: str) -> str:
        return "\n".join(r.plan for r in eng.sql(f"EXPLAIN {stmt}").collect())

    text = explain("DELETE FROM evo WHERE w = 7")
    assert "delete condition: w = 7" in text
    assert "Physical Plan" in text
    assert "Stage-1 discovery: none" in text
    assert "Stage-3 swap" in text
    text = explain("UPDATE evo SET v = 'x' WHERE w = 7")
    assert "update condition: w = 7" in text
    assert "Physical Plan" in text
    # the statements themselves agree, and EXPLAIN ran none of them
    assert eng.sql("SELECT count(*) FROM evo").collect()[0][0] == 4
    res = eng.sql("DELETE FROM evo WHERE w = 7").collect()
    assert res[0].rows_affected == 1

    ppath = str(tmp_path / "evo_p")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, p string"
    ).write.partitionBy("p").parquet(ppath)
    eng.register_table("evo_p", ppath, ["p"])
    text = explain("DELETE FROM evo_p WHERE k = 1")
    assert "Stage-1 discovery (one scan" in text
    assert "touched partitions only" in text


def test_create_table_like_path_backed(eng_with_copy, tmp_path):
    """CREATE TABLE LIKE over a registered path table: empty
    schema-carrying parquet, immediately DML-able (DDLTask
    .createTableLike parity)."""
    import pytest

    eng = eng_with_copy
    loc = str(tmp_path / "cust_like")
    eng.sql(f"CREATE TABLE cust_like LIKE customer_copy LOCATION '{loc}'")
    src_schema = eng.table("customer_copy").schema
    assert eng.table("cust_like").schema == src_schema
    assert eng.table("cust_like").count() == 0
    # the clone is a registered DML target right away
    n = eng.sql(
        "INSERT INTO cust_like SELECT * FROM customer_copy "
        "WHERE c_custkey <= 5"
    ).collect()[0].rows_affected
    assert n == eng.table("cust_like").count() > 0
    # IF NOT EXISTS is a no-op; plain re-create is a typed error
    eng.sql("CREATE TABLE IF NOT EXISTS cust_like LIKE customer_copy")
    with pytest.raises(HiveQLUnsupportedError, match="already registered"):
        eng.sql("CREATE TABLE cust_like LIKE customer_copy")
    with pytest.raises(HiveQLUnsupportedError, match="parquet"):
        eng.sql("CREATE TABLE c2 LIKE customer_copy STORED AS ORC")
    # native catalog sources still pass through to Spark's own LIKE
    eng.spark.sql("DROP TABLE IF EXISTS cat_src")
    eng.spark.sql("CREATE TABLE cat_src (k INT) USING parquet")
    eng.sql("CREATE TABLE cat_dst LIKE cat_src")
    assert dict(eng.spark.table("cat_dst").dtypes) == {"k": "int"}
    eng.spark.sql("DROP TABLE cat_dst")
    eng.spark.sql("DROP TABLE cat_src")


def test_insert_overwrite_directory_hive_forms(spark, tmp_path):
    """Hive-form INSERT OVERWRITE [LOCAL] DIRECTORY: plain (LazySimple
    text, \\x01 delimiter, \\N nulls), ROW FORMAT DELIMITED, and
    STORED AS PARQUET — Spark only accepts its USING form natively, so
    the engine intercepts the Hive grammar; rows_affected comes from an
    observed metric on the write."""
    import glob

    from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError

    eng = Engine(spark=spark, sf_dir="/root/testdata/sf0.001")
    d = str(tmp_path)
    r = eng.sql(
        f"INSERT OVERWRITE DIRECTORY '{d}/plain' "
        "SELECT n_nationkey, nullif(n_name, 'NATION_1') FROM nation "
        "WHERE n_nationkey < 3"
    ).collect()
    assert r[0][0] == 3
    txt = "".join(
        open(f).read() for f in sorted(glob.glob(f"{d}/plain/part-*"))
    )
    assert "0\x01NATION_0\n" in txt
    assert "1\x01\\N\n" in txt  # Hive's NULL marker
    r = eng.sql(
        f"INSERT OVERWRITE DIRECTORY '{d}/delim' ROW FORMAT DELIMITED "
        "FIELDS TERMINATED BY '|' "
        "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 2"
    ).collect()
    assert r[0][0] == 2
    txt = "".join(
        open(f).read() for f in sorted(glob.glob(f"{d}/delim/part-*"))
    )
    assert "0|NATION_0\n" in txt
    r = eng.sql(
        f"INSERT OVERWRITE LOCAL DIRECTORY '{d}/pq' STORED AS PARQUET "
        "SELECT n_nationkey FROM nation"
    ).collect()
    assert r[0][0] == 25
    assert spark.read.parquet(f"{d}/pq").count() == 25
    with pytest.raises(HiveQLUnsupportedError, match="STORED AS"):
        eng.sql(
            f"INSERT OVERWRITE DIRECTORY '{d}/seq' STORED AS SEQUENCEFILE "
            "SELECT n_nationkey FROM nation"
        )


def test_create_temporary_table_hive_form(spark):
    """Hive's session-scoped CREATE TEMPORARY TABLE (0.14+,
    SemanticAnalyzer isTemporary): declared-schema and CTAS forms both
    materialize a writable scratch-backed table — the full DML surface
    (INSERT/UPDATE/DELETE) works against it, and DROP TABLE deregisters
    it with external semantics."""
    from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError

    eng = Engine(spark=spark)
    eng.sql(
        "CREATE TEMPORARY TABLE tt_decl "
        "(id INT, amt DECIMAL(10,2), tags ARRAY<STRING>)"
    )
    assert eng.sql("SELECT count(*) AS n FROM tt_decl").collect()[0].n == 0
    eng.sql("INSERT INTO tt_decl SELECT 1, 12.50, array('a','b')")
    eng.sql("INSERT INTO tt_decl SELECT 2, 7.25, array('c')")
    eng.sql("UPDATE tt_decl SET amt = 8.00 WHERE id = 2")
    eng.sql("DELETE FROM tt_decl WHERE id = 1")
    rows = eng.sql("SELECT id, amt, tags FROM tt_decl").collect()
    assert len(rows) == 1 and rows[0].id == 2
    assert float(rows[0].amt) == 8.0 and rows[0].tags == ["c"]
    # CTAS form
    eng.sql(
        "CREATE TEMPORARY TABLE tt_ctas AS "
        "SELECT id * 10 AS k FROM tt_decl"
    )
    assert eng.sql("SELECT k FROM tt_ctas").collect()[0].k == 20
    with pytest.raises(HiveQLUnsupportedError, match="already exists"):
        eng.sql("CREATE TEMPORARY TABLE tt_ctas (x INT)")
    eng.sql("CREATE TEMPORARY TABLE IF NOT EXISTS tt_ctas (x INT)")  # no-op
    eng.sql("DROP TABLE tt_ctas")
    eng.sql("DROP TABLE tt_decl")
