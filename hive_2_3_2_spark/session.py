"""SparkSession factory with Hive-2.3.2-parity configuration.

The reference engine (Apache Hive 2.3.2 fork at /root/reference) evaluates
queries with permissive, non-ANSI semantics — e.g. string/number comparisons
coerce to double and ``int / int`` yields double
(reference: ql/src/java/org/apache/hadoop/hive/ql/exec/FunctionRegistry.java:337
registers ``/`` as GenericUDFOPDivide which always returns double).
Spark 4 defaults to ANSI mode, so we turn it off to match Hive semantics.

Scale posture: every config below is chosen for a multi-executor cluster at
~100 TB, then merely *exercised* on local[32]:

- AQE on (runtime re-plan = Hive's CommonJoinResolver / SkewJoinResolver,
  reference: ql/.../optimizer/physical/PhysicalOptimizer.java:50-100).
- AQE skew-join on (= runtime skew handling in
  ql/.../exec/SkewJoinHandler.java:74).
- Broadcast threshold ~32 MB (= hive.mapjoin.smalltable.filesize auto
  map-join conversion, ql/.../optimizer/ConvertJoinMapJoin.java:78).
- Dynamic partition pruning on (= Hive's AppMasterEventOperator DPP events,
  ql/.../exec/AppMasterEventOperator.java:46).
- Shuffle partitions default 200 but AQE coalesces; at 100 TB you would
  raise ``spark.sql.shuffle.partitions`` to O(#cores * 2-3) — AQE's
  coalescing makes the initial number non-critical.
"""

from __future__ import annotations

import os
import tempfile
from decimal import ROUND_HALF_UP, Context, Decimal
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DataType,
    DecimalType,
    StructType,
    _create_converter,
    _make_type_verifier,
)

# Spark's widest decimal; quantize under Python's default 28-digit
# context would reject a value that fits decimal(38, s).
_DEC38 = Context(prec=38)

_SCRATCH_BASE = os.environ.get("SPARK_GRAFT_SCRATCH") or os.path.join(
    tempfile.gettempdir(), "hive_2_3_2_spark_scratch"
)

# Configs that matter at 100 TB; identical semantics at sf0.001.
ENGINE_CONFS: dict[str, str] = {
    # Hive-permissive semantics (not ANSI).
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Runtime adaptivity — replaces Hive's physical resolvers (§4.3 SURVEY).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast (map-join) conversion threshold.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Partition pruning at runtime (Hive DPP parity).
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    # Arrow for the Pandas-UDF slow path (only used where JVM exprs can't).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark 4's DataFrame-debugging call-site capture (on by default)
    # costs THREE extra py4j round trips per DataFrame/Column operation
    # (a conf.get + PySparkCurrentOrigin.set/.clear around every call —
    # pyspark/errors/utils.py:295-325) plus a Python stack walk. On this
    # host's ~2 ms localhost sockets that is most of the measured ~8 ms
    # per Column op; 100 ops cost 2.49 s with it on. It only enriches
    # error messages with user-code line numbers — the engine raises its
    # own typed errors — so it is pure per-op overhead here. Static conf:
    # must be set at session build (r12, guide §1/§4: shrink the
    # Python-to-JVM boundary).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Hive's datetime patterns ARE Java SimpleDateFormat (GenericUDFDateFormat
    # / UDFUnixTimeStamp wrap SimpleDateFormat directly) — week-based fields
    # ('Y'/'u'/'w'/'W'), 'E', 'G' are valid and lenient-parse semantics apply.
    # Spark 3+'s DateTimeFormatter refuses them; LEGACY is Spark's documented
    # remedy and exactly the reference semantics. Set at session build so the
    # SAME query returns the SAME result regardless of what ran before it
    # (a per-statement flip would be order-dependent).
    "spark.sql.legacy.timeParserPolicy": "LEGACY",
    # Engine.sql owns ${...} substitution (VariableSubstitution parity,
    # typed error on unbound names); Spark's own layer would otherwise
    # double-substitute and silently blank unbound references.
    "spark.sql.variable.substitute": "false",
    # Scan sizing: 128 MB splits is the right grain for 100 TB parquet.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Bucketed-table support (Hive bucketCols parity,
    # metastore/if/hive_metastore.thrift:285-286).
    "spark.sql.sources.bucketing.enabled": "true",
    # Hive's SMB join handles DIVISIBLE bucket counts exchange-free
    # (auto_sortmerge_join_*.q: 2-bucket joins 4-bucket by reading two
    # buckets per task); Spark's equivalent is coalescing the
    # larger-bucketed side — off by default upstream, on here for
    # parity. At 100 TB this removes BOTH shuffles from every
    # mixed-bucket-count join of co-bucketed fact tables.
    "spark.sql.bucketing.coalesceBucketsInJoin.enabled": "true",
    # Hive writes legacy-style partition dirs; keep overwrite dynamic so
    # INSERT OVERWRITE only replaces touched partitions (Hive semantics).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Parquet TIMESTAMP(NANOS) (events.ts in the testdata) is otherwise
    # rejected by Spark's reader; read as int64 nanos and let the catalog
    # normalize to microsecond timestamps (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep ALL session-created state out of the working directory (a
    # fresh clone must behave identically to a dirty checkout):
    # saveAsTable data goes under the scratch warehouse, and embedded
    # Derby (JDBC tests / any metastore use) writes its home + log
    # there instead of ./derby.log.
    "spark.sql.warehouse.dir": os.path.join(_SCRATCH_BASE, "warehouse"),
    "spark.driver.extraJavaOptions": (
        f"-Dderby.system.home={_SCRATCH_BASE} "
        f"-Dderby.stream.error.file={_SCRATCH_BASE}/derby.log"
    ),
}


def default_parallelism() -> int:
    """Local cores: ``$SPARK_GRAFT_CPUS`` when set, else the cores this
    process may run on."""
    return int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )


def get_spark(
    app_name: str = "hive-2.3.2-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[default_parallelism()]`` for tests; on a
    real cluster the caller passes the cluster master / relies on
    spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{default_parallelism()}]"
    builder = builder.master(master)
    confs = dict(ENGINE_CONFS)
    # Local runs: modest shuffle parallelism; cluster runs keep Spark default
    # (200) + AQE coalescing, or the operator explicitly repartitions.
    if master.startswith("local"):
        confs.setdefault("spark.sql.shuffle.partitions", str(default_parallelism()))
        confs.setdefault("spark.driver.memory", "8g")
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: StructType | str
) -> DataFrame:
    """A DataFrame over driver-side ``rows``, planned as a JVM
    ``LocalRelation`` — the way Hive answers SET, DESCRIBE and row
    counts inside the client (``SetProcessor``, ``DDLTask``, a
    ``FetchTask`` read that starts no job).

    ``spark.createDataFrame(list, schema)`` parallelizes pickled rows,
    so every write or collect of the frame runs a Spark job whose
    tasks each go through a Python worker. Here the rows take the list
    path's own steps up to the wire — ``verifySchema``'s type check
    (a bad row raises the same error), the field-name converter and
    ``StructType.toInternal`` (naive timestamps and dates get the same
    values), and top-level decimals round half-up to the column scale
    as the JVM does on that path — and then cross as one Arrow table.
    Under ``spark.sql.execution.arrow.localRelationThreshold`` Spark
    keeps that table as a ``LocalRelation``: ``collect()`` launches no
    job and a join sees the frame's exact size. Above it, the batches
    become a JVM-only RDD; no Python worker runs either way.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    verify = _make_type_verifier(struct)
    convert = _create_converter(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(convert(row)))
    if not internal:
        # No rows: the schema alone makes the LocalRelation. Arrow has
        # no type for every Spark type (year-month intervals), so an
        # empty frame never goes through it.
        jss = spark._jsparkSession
        jdf = jss.createDataFrame(
            spark._jvm.java.util.ArrayList(), jss.parseDataType(struct.json())
        )
        return DataFrame(jdf, spark)
    columns = list(zip(*internal))
    arrow_schema = to_arrow_schema(struct)
    arrays = []
    for values, field, arrow_field in zip(columns, struct, arrow_schema):
        if isinstance(field.dataType, DecimalType):
            unit = Decimal(1).scaleb(-field.dataType.scale)
            values = [
                v if v is None else v.quantize(unit, ROUND_HALF_UP, _DEC38)
                for v in values
            ]
        arrays.append(pa.array(values, type=arrow_field.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, struct)
