"""Driver-verifiable entries for the round-8 surface (registered
inside the r8 window per the freeze rule): partitioned-table
StatsOptimizer parity — per-partition stats aggregated over the
PRUNED partition list (reference: StatsOptimizer.java walks
PARTITION_PARAMS/PART_COL_STATS for the pruned partitions;
metadata_only_queries_with_filters.q)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from hive_2_3_2_spark.engine import Engine
from hive_2_3_2_spark.suite import query


@query(
    "stats_partition_pruned_aggregates",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o_custkey) AS BIGINT) AS n_cust,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           CAST(count(*) AS BIGINT) * 3 AS s3
    FROM orders
    WHERE o_orderpriority > '3-MEDIUM'
    """,
)
def stats_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/min/max over a PARTITIONED table with a partition-column
    WHERE, answered purely from per-partition stats aggregated over
    the pruned list (engine.py _try_stats_answer; Hive's
    StatsOptimizer + partition pruner). The orders fixture is
    repartitioned by o_orderpriority into a scratch dir; ANALYZE
    PARTITION (col) gathers every partition in one footer pass and
    FOR COLUMNS in one grouped job; the SELECT then runs zero scans.
    The DuckDB oracle computes the same answer the slow way over the
    flat fixture."""
    eng = Engine(spark=spark)
    base = os.path.join(
        tempfile.gettempdir(),
        "hive_2_3_2_spark_scratch",
        f"stats_part_orders_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    if not os.path.isdir(base):
        shutil.rmtree(base, ignore_errors=True)
        (src.repartition("o_orderpriority")
            .write.partitionBy("o_orderpriority")
            .mode("overwrite").parquet(base))
    eng.register_table("orders_bypri", base, ["o_orderpriority"])
    eng.sql("SET hive.compute.query.using.stats=true")
    eng.sql(
        "ANALYZE TABLE orders_bypri PARTITION (o_orderpriority) "
        "COMPUTE STATISTICS"
    )
    eng.sql(
        "ANALYZE TABLE orders_bypri COMPUTE STATISTICS "
        "FOR COLUMNS o_custkey, o_totalprice"
    )
    df = eng.sql(
        "SELECT count(*) AS n_rows, count(o_custkey) AS n_cust, "
        "min(o_totalprice) AS min_price, "
        "max(o_totalprice) AS max_price, "
        "sum(3) AS s3 "
        "FROM orders_bypri WHERE o_orderpriority > '3-MEDIUM'"
    )
    from hive_2_3_2_spark.plans import explain_str

    plan = explain_str(df)
    assert "Scan parquet" not in plan and "Aggregate" not in plan, plan
    return df


@query(
    "database_qualified_dml",
    oracle="""
    SELECT n_name, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS bal_cents
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > 1000
    GROUP BY n_name
    """,
)
def database_qualified_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Database DDL as a driver-verifiable surface (r8 fourth wave;
    reference parse/DDLSemanticAnalyzer.java analyzeCreateDatabase /
    analyzeSwitchDatabase → DDLTask.createDatabase; database.q,
    cte_mat_1.q): CREATE DATABASE with DBPROPERTIES Spark reserves
    (engine overlay), a CTAS INTO the database reading the DEFAULT
    database's engine table via `default.customer` qualification, and
    the final join back out of the db-qualified table. The db is
    recreated per run (CASCADE) — the returned frame reads only
    db-resident data, so it stays collectible after return."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.sql("DROP DATABASE IF EXISTS suite_db8 CASCADE")
    # a killed/fresh session's in-memory catalog no longer knows the
    # db, but its warehouse DIRECTORY survives — clear it like
    # _drop_managed does for tables
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(wh, "suite_db8.db"), ignore_errors=True)
    eng.sql(
        "CREATE DATABASE suite_db8 COMMENT 'r8 suite database' "
        "WITH DBPROPERTIES ('owner'='suite', 'round'='8')"
    )
    # the reserved 'owner' key must round-trip through the overlay
    row = eng.sql("DESCRIBE DATABASE EXTENDED suite_db8").collect()[0]
    assert "owner=suite" in row.parameters, row
    eng.sql(
        "CREATE TABLE suite_db8.rich_cust STORED AS PARQUET AS "
        "SELECT c_custkey, c_nationkey, c_acctbal FROM default.customer "
        "WHERE c_acctbal > 1000"
    )
    return eng.sql(
        "SELECT n.n_name, count(*) AS n, "
        "sum(CAST(floor(r.c_acctbal * 100) AS BIGINT)) AS bal_cents "
        "FROM suite_db8.rich_cust r JOIN default.nation n "
        "ON r.c_nationkey = n.n_nationkey GROUP BY n.n_name"
    )
