"""Suite queries for the SQL DML statement front-end (Engine.sql):
INSERT INTO / INSERT OVERWRITE and MERGE statement forms.

Reference: INSERT compiles through parse/SemanticAnalyzer.java onto
exec/MoveTask.java; MERGE through parse/UpdateDeleteSemanticAnalyzer
.java:86. Each entry copies a fixture table to scratch, runs the SQL
statement through an Engine, and returns a deterministic aggregate of
the final table state; the DuckDB oracle expresses the same end state
over the original table (the dml.py pattern). Entries registered here
sit BELOW the r3 CORRECTNESS window (suite/__init__.py freeze rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_3_2_spark.engine import Engine
from hive_2_3_2_spark.suite import query
from hive_2_3_2_spark.suite._scratch import _fresh_copy


@query(
    "dml_sql_insert_into_select",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(bal), 2) AS total
    FROM (
      SELECT c_mktsegment, c_acctbal AS bal FROM customer
      UNION ALL
      SELECT c_mktsegment, c_acctbal + 5 AS bal
      FROM customer WHERE c_custkey % 20 = 0
    )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def dml_sql_insert_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``INSERT INTO t SELECT ... FROM t`` through Engine.sql — the
    self-referencing append is safe because rows are STAGED to a sibling
    dir before any file lands in the target (MoveTask pattern); the
    rows_affected count rides the staging write as an observed metric."""
    path = _fresh_copy(spark, sf_dir, "customer", "sql_insert_into")
    eng = Engine(spark=spark)
    eng.register_table("cust_sql_ins", path)
    eng.sql(
        "INSERT INTO cust_sql_ins "
        "SELECT c_custkey + 50000000, c_name, c_nationkey, "
        "c_acctbal + 5, c_mktsegment "
        "FROM cust_sql_ins WHERE c_custkey % 20 = 0"
    ).collect()
    return (
        spark.read.parquet(path)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("total"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "dml_sql_insert_overwrite_dynamic",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderpriority <> '1-URGENT' OR o_orderkey % 2 = 0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def dml_sql_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``INSERT OVERWRITE TABLE t PARTITION (p) SELECT ...`` — Hive
    nonstrict dynamic-partition overwrite: exactly the partitions present
    in the select are swapped (here '1-URGENT', thinned to even order
    keys); every other partition must survive byte-identical."""
    path = _fresh_copy(
        spark, sf_dir, "orders", "sql_ins_ovw", partition_cols=["o_orderpriority"]
    )
    eng = Engine(spark=spark)
    eng.register_table("orders_sql_ovw", path, ["o_orderpriority"])
    eng.sql(
        "INSERT OVERWRITE TABLE orders_sql_ovw PARTITION (o_orderpriority) "
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderdate, o_orderpriority "
        "FROM orders_sql_ovw "
        "WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0"
    ).collect()
    return (
        spark.read.parquet(path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "dml_sql_merge_statement",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(bal), 2) AS total
    FROM (
      SELECT c_mktsegment,
             CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000
                  ELSE c_acctbal END AS bal
      FROM customer
      UNION ALL
      SELECT NULL AS c_mktsegment, 0.0 AS bal
      FROM customer WHERE c_custkey % 10 = 0
    )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def dml_sql_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``MERGE INTO ... WHEN MATCHED THEN UPDATE SET / WHEN NOT MATCHED
    THEN INSERT (cols) VALUES`` through Engine.sql
    (UpdateDeleteSemanticAnalyzer.java:86): matched customers get the
    source balance; unmatched source keys insert partial rows (unnamed
    columns NULL — exercised by the NULL c_mktsegment group)."""
    path = _fresh_copy(spark, sf_dir, "customer", "sql_merge")
    eng = Engine(spark=spark)
    eng.register_table("cust_sql_mrg", path)
    spark.sql(
        "SELECT c_custkey AS k, c_acctbal + 1000 AS bal "
        "FROM cust_sql_mrg WHERE c_custkey % 10 = 0 "
        "UNION ALL "
        "SELECT c_custkey + 10000000 AS k, 0.0 AS bal "
        "FROM cust_sql_mrg WHERE c_custkey % 10 = 0"
    ).createOrReplaceTempView("cust_mrg_src")
    eng.sql(
        "MERGE INTO cust_sql_mrg t USING cust_mrg_src s "
        "ON t.c_custkey = s.k "
        "WHEN MATCHED THEN UPDATE SET c_acctbal = s.bal "
        "WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal) "
        "VALUES (s.k, s.bal)"
    ).collect()
    return (
        spark.read.parquet(path)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("total"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "dml_sql_merge_multi_clause",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(c_acctbal), 2) AS total,
           CAST(SUM(CASE WHEN c_name = 'multiclause' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ins
    FROM (
      SELECT CASE WHEN c_custkey % 10 = 0 AND c_acctbal > 0
                  THEN c_acctbal + 500 ELSE c_acctbal END AS c_acctbal,
             c_name
      FROM customer
      WHERE NOT (c_custkey % 10 = 0 AND c_acctbal <= 0)
      UNION ALL
      SELECT 77.0 AS c_acctbal, 'multiclause' AS c_name
      FROM customer WHERE c_custkey % 25 = 0
    )
    """,
)
def dml_sql_merge_multi_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive's FULL MERGE clause surface through Engine.sql — two WHEN
    MATCHED clauses (conditional UPDATE, then DELETE mopping up the
    rest, first-match-wins) plus WHEN NOT MATCHED INSERT
    (UpdateDeleteSemanticAnalyzer.java:86 allows exactly 2 matched + 1
    not-matched; the first matched clause must carry a condition).
    End state: matched positive-balance customers get bal+500, matched
    non-positive ones are deleted, unmatched source keys insert."""
    path = _fresh_copy(spark, sf_dir, "customer", "sql_merge_mc")
    eng = Engine(spark=spark)
    eng.register_table("cust_sql_mc", path)
    spark.sql(
        "SELECT c_custkey AS k, c_acctbal AS bal "
        "FROM cust_sql_mc WHERE c_custkey % 10 = 0 "
        "UNION ALL "
        "SELECT c_custkey + 10000000 AS k, 77.0 AS bal "
        "FROM cust_sql_mc WHERE c_custkey % 25 = 0"
    ).createOrReplaceTempView("cust_mc_src")
    eng.sql(
        "MERGE INTO cust_sql_mc t USING cust_mc_src s "
        "ON t.c_custkey = s.k "
        "WHEN MATCHED AND s.bal > 0 THEN UPDATE SET c_acctbal = s.bal + 500 "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal) "
        "VALUES (s.k, 'multiclause', s.bal)"
    ).collect()
    return spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("total"),
        F.sum(
            F.when(F.col("c_name") == "multiclause", 1).otherwise(0)
        ).cast("long").alias("n_ins"),
    )


@query(
    "dml_sql_multi_insert",
    oracle="""
    SELECT side, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(c_acctbal), 2) AS total
    FROM (
      SELECT 'hi' AS side, c_acctbal FROM customer WHERE c_acctbal > 5000
      UNION ALL
      SELECT 'lo' AS side, c_acctbal FROM customer WHERE c_acctbal <= 5000
    )
    GROUP BY side
    ORDER BY side
    """,
)
def dml_sql_multi_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive multi-insert statement (``FROM src INSERT ... INSERT ...``,
    parse/SemanticAnalyzer.java multi-QB / MapOperator multi-alias plan)
    through Engine.sql: one source fans out into two sinks partitioned by
    a predicate; verified by aggregating both sinks' final contents."""
    import os
    import shutil

    from hive_2_3_2_spark.suite._scratch import scratch_root

    src = _fresh_copy(spark, sf_dir, "customer", "sql_mi_src")
    eng = Engine(spark=spark)
    eng.register_table("cust_mi_src", src)
    empty = spark.read.parquet(src).filter("1=0").select(
        "c_custkey", "c_acctbal"
    )
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    for nm in ("hi", "lo"):
        dst = os.path.join(scratch_root("dml"), f"sql_mi_{nm}_{sf_tag}")
        shutil.rmtree(dst, ignore_errors=True)
        empty.write.parquet(dst)
        eng.register_table(f"cust_mi_{nm}", dst)
    eng.sql(
        "FROM cust_mi_src "
        "INSERT INTO cust_mi_hi SELECT c_custkey, c_acctbal "
        "WHERE c_acctbal > 5000 "
        "INSERT INTO cust_mi_lo SELECT c_custkey, c_acctbal "
        "WHERE c_acctbal <= 5000"
    ).collect()
    hi = eng.table("cust_mi_hi").select(F.lit("hi").alias("side"), "c_acctbal")
    lo = eng.table("cust_mi_lo").select(F.lit("lo").alias("side"), "c_acctbal")
    return (
        hi.unionByName(lo)
        .groupBy("side")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("total"),
        )
        .orderBy("side")
    )


@query(
    "ddl_sql_show_partitions",
    oracle="""
    SELECT DISTINCT 'o_orderpriority=' || o_orderpriority AS partition
    FROM orders ORDER BY partition
    """,
)
def ddl_sql_show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW PARTITIONS t through Engine.sql (DDLSemanticAnalyzer show-
    partitions path): one col=val line per partition directory, derived
    from a metadata-only listing — the oracle derives the same set from
    the data."""
    path = _fresh_copy(
        spark, sf_dir, "orders", "sql_show_parts",
        partition_cols=["o_orderpriority"],
    )
    eng = Engine(spark=spark)
    eng.register_table("orders_show_parts", path, ["o_orderpriority"])
    return eng.sql("SHOW PARTITIONS orders_show_parts").orderBy("partition")


@query(
    "ddl_sql_truncate_partition",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_orderpriority <> '1-URGENT'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def ddl_sql_truncate_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATE TABLE t PARTITION (p=v): the partition directory is
    removed outright (metadata-speed, no rewrite of survivors); every
    other partition must be untouched."""
    path = _fresh_copy(
        spark, sf_dir, "orders", "sql_trunc_part",
        partition_cols=["o_orderpriority"],
    )
    eng = Engine(spark=spark)
    eng.register_table("orders_trunc_part", path, ["o_orderpriority"])
    eng.sql(
        "TRUNCATE TABLE orders_trunc_part "
        "PARTITION (o_orderpriority = '1-URGENT')"
    ).collect()
    return (
        eng.table("orders_trunc_part")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


@query(
    "ddl_sql_export_import",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def ddl_sql_export_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPORT TABLE ... TO / IMPORT TABLE ... FROM round trip
    (Export/ImportSemanticAnalyzer over CopyTask/MoveTask): the imported
    table must aggregate identically to the source, partition metadata
    intact."""
    import os
    import shutil

    from hive_2_3_2_spark.suite._scratch import scratch_root

    path = _fresh_copy(
        spark, sf_dir, "orders", "sql_export_src",
        partition_cols=["o_orderpriority"],
    )
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    exp = os.path.join(scratch_root("dml"), f"sql_export_dir_{sf_tag}")
    shutil.rmtree(exp, ignore_errors=True)
    eng = Engine(spark=spark)
    eng.register_table("orders_export_src", path, ["o_orderpriority"])
    eng.sql(f"EXPORT TABLE orders_export_src TO '{exp}'").collect()
    eng.sql(f"IMPORT TABLE orders_exp_roundtrip FROM '{exp}'").collect()
    return (
        eng.table("orders_exp_roundtrip")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderpriority")
    )
