"""DDL / DML / utility surface (SURVEY §2.12).

Reference: DDLSemanticAnalyzer + DDLTask (create/drop/alter/show/describe),
ColumnStatsTask/StatsTask (ANALYZE), ExplainTask (EXPLAIN). Spark-first:
``spark.sql`` executes the same statements natively against the session
catalog; these helpers add the reference-shaped conveniences + the stats
path that unlocks Catalyst CBO join reordering (SURVEY §4 verdict:
"(b) ensure ANALYZE-equivalent stats when we want CBO join reorder").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def ctas(spark: SparkSession, table: str, select_sql: str, **options: str) -> None:
    """CREATE TABLE AS SELECT (DDLSemanticAnalyzer CTAS path)."""
    opts = " ".join(f"{k} '{v}'" for k, v in options.items())
    using = f"USING parquet {opts}" if opts else "USING parquet"
    spark.sql(f"CREATE TABLE {table} {using} AS {select_sql}")


def drop_table(spark: SparkSession, table: str, if_exists: bool = True) -> None:
    spark.sql(f"DROP TABLE {'IF EXISTS ' if if_exists else ''}{table}")


def show_tables(spark: SparkSession) -> DataFrame:
    return spark.sql("SHOW TABLES")


def describe(spark: SparkSession, table: str, extended: bool = False) -> DataFrame:
    return spark.sql(f"DESCRIBE {'EXTENDED ' if extended else ''}{table}")


def analyze_table(
    spark: SparkSession, table: str, columns: list[str] | None = None
) -> None:
    """ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS ...]
    (ColumnStatsTask parity). Table+column stats feed Catalyst CBO
    (spark.sql.cbo.enabled) — size/row-count for join selection, NDV +
    min/max for reorder; the same role Hive's StatsOptimizer/
    AnnotateWithStatistics play (optimizer/Optimizer.java:227-230)."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")


def explain(spark: SparkSession, sql: str, mode: str = "formatted") -> str:
    """EXPLAIN (ExplainTask.java:117 parity)."""
    from hive_2_3_2_spark.plans import explain_str

    return explain_str(spark.sql(sql), mode)


def cache_table(spark: SparkSession, table: str) -> None:
    """CACHE TABLE — the engine-side analogue of Hive's LLAP daemon cache
    (llap-server/) for hot dimensions."""
    spark.sql(f"CACHE TABLE {table}")


def uncache_table(spark: SparkSession, table: str) -> None:
    spark.sql(f"UNCACHE TABLE {table}")
