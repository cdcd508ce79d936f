"""Readers — the reference's SerDe/InputFormat surface on Spark sources.

Mapping (SURVEY §2.2):
- LazySimpleSerDe (serde/.../lazy/LazySimpleSerDe.java:76) → csv/text with
  delimiter options (schema-on-read: malformed fields → null, Hive-style).
- OpenCSVSerde (serde/.../OpenCSVSerde.java:55) → csv with quote/escape.
- RegexSerDe (serde/.../RegexSerDe.java:75) → text + regexp_extract.
- Orc/Parquet/Avro input formats → native Spark readers (predicate
  pushdown + vectorized scan built in — richer than the reference's
  VectorizedRowBatch path).
- JdbcStorageHandler (jdbc-handler/.../JdbcStorageHandler.java) →
  spark.read.jdbc with partitioned reads.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

#: a missing optional datasource (spark-avro off the classpath) — the
#: one error class the Avro probes/fallbacks may swallow. Spark spells
#: it both with and without 'the' across versions, plus the error-class
#: name; every probe site shares this regex so they can't drift apart.
MISSING_DATASOURCE = re.compile(
    r"DATA_SOURCE_NOT_FOUND|Failed to find (the )?data source"
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro (serde/.../avro/AvroSerDe.java:50). Prefers the native
    spark-avro datasource when it's on the classpath (JVM-side,
    vectorized); otherwise falls back to the spec-derived pure-Python
    container reader (sources/avro_py.py — binaryFile scan + per-file
    mapInPandas decode), which covers the AvroSerDe-typical schema
    subset without any optional jar."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:
        # fall back ONLY on the missing-datasource error — any other
        # failure (bad path, corrupt file) must surface, not be
        # silently retried through the slower reader
        if not MISSING_DATASOURCE.search(str(exc)):
            raise
        from hive_2_3_2_spark.sources.avro_py import read_avro_py

        return read_avro_py(spark, path)


def write_avro(df: DataFrame, path: str, codec: str = "deflate") -> None:
    """Avro sink (AvroSerializer parity): native datasource when
    available, else the pure-Python container writer (one file per
    partition, written from the executors)."""
    try:
        df.write.format("avro").mode("overwrite").save(path)
    except Exception as exc:
        if not MISSING_DATASOURCE.search(str(exc)):
            raise
        from hive_2_3_2_spark.sources.avro_py import write_avro_py

        write_avro_py(df, path, codec=codec)


def read_csv(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    header: bool = False,
    quote: str = '"',
    escape: str = "\\",
    schema: str | None = None,
) -> DataFrame:
    """Delimited text (LazySimpleSerDe / OpenCSVSerde parity). Hive is
    schema-on-read and never fails on malformed rows → mode=PERMISSIVE."""
    reader = (
        spark.read.option("sep", sep)
        .option("header", header)
        .option("quote", quote)
        .option("escape", escape)
        .option("mode", "PERMISSIVE")
    )
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.text(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSON lines (Hive: DelimitedJSONSerDe / get_json_object over a
    string column). Spark infers or takes an explicit schema."""
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def read_regex_text(
    spark: SparkSession, path: str, pattern: str, out_cols: list[str]
) -> DataFrame:
    """RegexSerDe parity: each line parsed by ``pattern``'s capture groups
    into ``out_cols`` (null on non-match — same as RegexSerDe)."""
    df = spark.read.text(path)
    return df.select(
        *[
            F.regexp_extract("value", pattern, i + 1).alias(name)
            for i, name in enumerate(out_cols)
        ]
    )


def read_sequencefile(
    spark: SparkSession,
    path: str,
    schema: str = "value string",
    sep: str = "\x01",
) -> DataFrame:
    """Hadoop SequenceFile → DataFrame bridge (the last in-scope §2.2
    format; reference fixture ``src_sequencefile``,
    data/scripts/q_test_init.sql:46).

    Hive lays out a SequenceFile table as (NullWritable/ignored key,
    Text value) where the value is the LazySimpleSerDe-delimited row
    (default field separator \\x01, serde/.../lazy/LazySimpleSerDe.java:76).
    Spark has no DataFrame SequenceFile source, so this is the one
    sanctioned RDD bridge: ``sc.sequenceFile`` for the container format,
    then everything downstream is DataFrame ops (the split/cast
    projection is JVM-side Column work — the Python RDD hop is only the
    (key, value) pair extraction).

    ``schema`` is a DDL string (e.g. "key string, value string"); fields
    are split out of the value text in order and cast Hive-style
    (malformed → null, schema-on-read).
    """
    import re as _re

    rdd = spark.sparkContext.sequenceFile(path).map(
        lambda kv: (None if kv[1] is None else str(kv[1]),)
    )
    raw = spark.createDataFrame(rdd, "__seq_value string")
    fields = DataType.fromDDL(schema).fields
    if len(fields) == 1:
        return raw.select(
            F.col("__seq_value").cast(fields[0].dataType).alias(fields[0].name)
        )
    parts = F.split(F.col("__seq_value"), _re.escape(sep), -1)
    return raw.select(
        *[
            parts.getItem(i).cast(f.dataType).alias(f.name)
            for i, f in enumerate(fields)
        ]
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC external table (JdbcStorageHandler parity). Always pass a
    partition_column for big tables — otherwise the read is single-task."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound or 0)
            .option("upperBound", upper_bound or 1_000_000)
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
