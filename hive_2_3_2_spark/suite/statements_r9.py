"""Driver-verifiable entries for the round-9 surface (registered
inside the r9 window per the freeze rule): the Noop pass-through PTF
invocation syntax (reference: udf/ptf/Noop.java, NoopWithMap.java;
ptf.q tests 1-23) and the reference-default int→timestamp millisecond
cast mode (HiveConf.java:1337 hive.int.timestamp.conversion.in.seconds
= false; TimestampWritable.longToTimestamp)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_2_3_2_spark.engine import Engine, TableDesc
from hive_2_3_2_spark.suite import query


@query(
    "op_noop_ptf_chain",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           rank() OVER (PARTITION BY o_orderpriority
                        ORDER BY o_orderkey) AS r,
           round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority
                 ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running
    FROM orders
    WHERE o_orderkey < 500
    ORDER BY o_orderpriority, o_orderkey
    """,
)
def op_noop_ptf_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained noop/noopwithmap PTF invocation (ptf.q tests 1+12) —
    pass-through table functions reduce to subqueries; Catalyst plans
    ONE window Exchange from the explicit OVER specs instead of one
    shuffle per chain link (what Hive's PTFOperator chain executes).
    The oracle is the same query with the noops stripped."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    return eng.sql(
        """
        select o_orderpriority, o_orderkey, o_totalprice,
        rank() over (partition by o_orderpriority
                     order by o_orderkey) as r,
        round(sum(o_totalprice) over (partition by o_orderpriority
              order by o_orderkey
              rows between unbounded preceding and current row), 2)
          as running
        from noop(on noopwithmap(on noop(on orders
          partition by o_orderpriority
          order by o_orderkey))
          partition by o_orderpriority
          order by o_orderkey)
        where o_orderkey < 500
        order by o_orderpriority, o_orderkey
        """
    )


@query(
    "fn_int_timestamp_millis_default",
    oracle="""
    SELECT l_orderkey,
           make_timestamp(CAST(l_orderkey AS BIGINT) * 1000)
             AS ts_int,
           make_timestamp(CAST(l_quantity * 1000000 AS BIGINT))
             AS ts_double,
           CAST(NULL AS TIMESTAMP) AS ts_null
    FROM lineitem
    WHERE l_orderkey < 100 AND l_linenumber = 1
    ORDER BY l_orderkey
    """,
)
def fn_int_timestamp_millis_default(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Default-config int→TIMESTAMP casts count MILLISECONDS
    (reference default: HiveConf.java:1337 = false →
    TimestampWritable.longToTimestamp millis mode) while double casts
    keep counting seconds — the typeof-dispatched single-eval rewrite
    in Engine.sql. The oracle builds the same instants with DuckDB's
    make_timestamp (microseconds)."""
    eng = Engine(spark=spark, sf_dir=sf_dir)
    return eng.sql(
        """
        select l_orderkey,
               cast(l_orderkey as timestamp) as ts_int,
               cast(cast(l_quantity as double) as timestamp) as ts_double,
               cast(cast(null as int) as timestamp) as ts_null
        from lineitem
        where l_orderkey < 100 and l_linenumber = 1
        order by l_orderkey
        """
    )


@query(
    "op_partitionwise_fileformat",
    oracle="""
    SELECT 'p' || CAST(o_orderkey % 3 AS VARCHAR) AS band,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderkey <= 3000
    GROUP BY 1
    ORDER BY 1
    """,
)
def op_partitionwise_fileformat(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-partition STORAGE DESCRIPTORS (partition_wise_fileformat*.q;
    metastore SDS — reference exec/MapOperator.java binds one
    deserializer per partition descriptor): three partitions of the
    same table written as PARQUET, ORC and TEXTFILE via ALTER TABLE SET
    FILEFORMAT between inserts, then ONE aggregate over the whole table
    — the engine reads it as one format-grouped DataSource scan per
    format unioned at the plan level, with partition pruning pushing
    into each group. The oracle recomputes the same aggregate from the
    source rows."""
    import os
    import shutil

    from hive_2_3_2_spark.suite._scratch import scratch_root

    eng = Engine(spark=spark, sf_dir=sf_dir)
    path = os.path.join(
        scratch_root("dml"),
        f"pwf_orders_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    eng.metastore["pwf_orders"] = TableDesc(schema=spark.createDataFrame(
        [], "o_orderkey bigint, o_totalprice double, band string"
    ).schema)
    eng.register_table("pwf_orders", path, ["band"])
    sel = (
        "select o_orderkey, o_totalprice from orders "
        "where o_orderkey <= 3000 and o_orderkey % 3 = {r}"
    )
    eng.sql(
        "insert overwrite table pwf_orders partition(band='p0') "
        + sel.format(r=0)
    )
    eng.sql("alter table pwf_orders set fileformat orc")
    eng.sql(
        "insert overwrite table pwf_orders partition(band='p1') "
        + sel.format(r=1)
    )
    eng.sql("alter table pwf_orders set fileformat textfile")
    eng.sql(
        "insert overwrite table pwf_orders partition(band='p2') "
        + sel.format(r=2)
    )
    return eng.sql(
        """
        select band, count(*) as cnt,
               round(sum(o_totalprice), 2) as total
        from pwf_orders
        group by band
        order by band
        """
    )
