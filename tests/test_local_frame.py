"""Driver-local result frames (``session.local_frame``).

Engine.sql answers SET, DESCRIBE, SHOW and DML row counts with frames
built on the driver. ``local_frame`` ships those rows to the JVM as one
Arrow table, which Spark plans as a ``LocalRelation``. These tests pin
three things:

- fidelity: every type the result frames use collects to exactly what
  the pickled ``spark.createDataFrame(rows, schema)`` path returns, and
  a wrongly typed row raises the same error class;
- the job budget: collecting a statement's answer launches no Spark job;
- the choke point: ``engine.py`` and ``sources/`` build driver-side
  frames only through ``local_frame``.
"""

from __future__ import annotations

import ast
import datetime as dt
import pathlib
import uuid
from decimal import Decimal

import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError
from hive_2_3_2_spark.session import local_frame

_PKG = pathlib.Path(__file__).resolve().parent.parent / "hive_2_3_2_spark"

_TZ5 = dt.timezone(dt.timedelta(hours=5))

FIDELITY_CASES = {
    "scalars": (
        "s string, i int, b bigint, d double, f boolean",
        [("x", 1, 2**40, 1.5, True), ("", -7, -1, -0.25, False)],
    ),
    "decimal": (
        "a decimal(10,2), b decimal(38,18)",
        [
            (
                Decimal("1.23"),
                Decimal("12345678901234567890.123456789012345678"),
            ),
            # more scale than the column: both paths round half-up
            (Decimal("1.225"), Decimal("-0.0000000000000000005")),
            (Decimal("-1.225"), Decimal("7")),
        ],
    ),
    "date_timestamp": (
        "d date, t timestamp",
        [
            (dt.date(2020, 1, 2), dt.datetime(2020, 1, 2, 3, 4, 5, 6)),
            (
                dt.date(1969, 12, 31),
                dt.datetime(2020, 1, 2, 3, 4, 5, tzinfo=_TZ5),
            ),
            (dt.date(1, 1, 1), dt.datetime(1900, 6, 1, 0, 0, 0)),
        ],
    ),
    "nested": (
        "a array<int>, m map<string,bigint>, "
        "st struct<x:int,y:string,z:array<timestamp>>",
        [
            (
                [1, None, 3],
                {"k": 1, "j": None},
                (1, "z", [dt.datetime(2020, 1, 1)]),
            ),
            ([], {}, (None, None, None)),
        ],
    ),
    "all_null_column": (
        "k int, v string, t timestamp",
        [(1, None, None), (2, None, None)],
    ),
    "zero_rows": ("name string, value string", []),
    "string_coercion": ("v string", [(1,), (True,), ("s",)]),
}


@pytest.mark.parametrize("case", sorted(FIDELITY_CASES))
def test_local_frame_collects_like_the_list_path(spark, case):
    ddl, rows = FIDELITY_CASES[case]
    ref = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


def test_local_frame_accepts_struct_schema_and_rows(spark):
    ref = spark.createDataFrame([("a", 1)], "k string, n bigint")
    got = local_frame(spark, ref.collect(), ref.schema)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([("x",)], "a int"),  # wrong field type
        ([(1, 2)], "a int"),  # wrong row length
        ([(None,)], "a int not null"),  # null in a non-nullable field
    ],
)
def test_local_frame_rejects_bad_rows_like_the_list_path(spark, rows, ddl):
    with pytest.raises(Exception) as ref:
        spark.createDataFrame(rows, ddl)
    with pytest.raises(Exception) as got:
        local_frame(spark, rows, ddl)
    assert type(got.value) is type(ref.value)
    assert got.value.getCondition() == ref.value.getCondition()


def test_local_frame_plans_a_local_relation(spark):
    df = local_frame(spark, [(3,)], "rows_affected bigint")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan


# -- job budget --------------------------------------------------------------


def _collect_jobs(spark, df) -> list[int]:
    """Spark job ids launched by ``df.collect()``."""
    sc = spark.sparkContext
    group = f"local-frame-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def part_eng(spark, tmp_path):
    path = str(tmp_path / "lf_part")
    spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "k int, v string, p string"
    ).write.partitionBy("p").parquet(path)
    eng = Engine(spark=spark)
    eng.register_table("lf_part", path, ["p"])
    return eng


def test_job_probe_sees_a_pickled_frame_job(spark):
    """The probe is not vacuous: the pickled list path runs a job."""
    assert _collect_jobs(spark, spark.createDataFrame([(1,)], "a int"))


@pytest.mark.parametrize(
    "stmt",
    [
        "SET hive.exec.dynamic.partition=true",
        "SHOW PARTITIONS lf_part",
        "DESCRIBE lf_part",
        "INSERT INTO lf_part PARTITION (p='z') VALUES (3, 'c')",
    ],
)
def test_statement_result_collect_launches_no_job(spark, part_eng, stmt):
    res = part_eng.sql(stmt)
    assert _collect_jobs(spark, res) == []
    assert res.collect()


def test_empty_frames_of_interval_schemas(spark):
    """Arrow has no year-month interval type: a frame with no rows is
    built from the schema alone, still a LocalRelation with no job."""
    df = local_frame(spark, [], "i interval year to month")
    assert df.schema.simpleString() == "struct<i:interval year to month>"
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert _collect_jobs(spark, df) == []
    assert df.collect() == []


@pytest.fixture()
def interval_view(spark):
    spark.sql(
        "SELECT interval '1-2' year to month AS i"
    ).createOrReplaceTempView("lf_iv")
    return "lf_iv"


def test_create_temporary_table_like_an_interval_view(spark, interval_view):
    res = Engine(spark=spark).sql(
        f"CREATE TEMPORARY TABLE lf_tl LIKE {interval_view}"
    )
    assert _collect_jobs(spark, res) == []
    assert spark.table("lf_tl").dtypes == spark.table(interval_view).dtypes


def test_run_script_of_an_empty_interval_select(spark, interval_view):
    (out,) = Engine(spark=spark).run_script(
        f"SELECT i FROM {interval_view} WHERE false;"
    )
    assert out.dtypes == spark.table(interval_view).dtypes
    assert _collect_jobs(spark, out) == []


# -- choke point -------------------------------------------------------------


def test_engine_and_sources_build_frames_only_through_local_frame():
    """No list-based ``createDataFrame`` in the statement path. The one
    exception is ``readers.read_sequencefile``, whose input is an RDD."""
    offenders = []
    files = [_PKG / "engine.py", *sorted((_PKG / "sources").glob("*.py"))]
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                continue
            first = node.args[0] if node.args else None
            if (
                path.name == "readers.py"
                and isinstance(first, ast.Name)
                and first.id == "rdd"
            ):
                continue
            offenders.append(f"{path.name}:{node.lineno}")
    assert offenders == []


def test_run_script_of_an_interval_row_raises_a_typed_error(spark, interval_view):
    with pytest.raises(HiveQLUnsupportedError, match=r"INTERVAL YEAR TO MONTH.*\bi\b"):
        Engine(spark=spark).run_script(f"SELECT i FROM {interval_view};")


def test_sql_async_of_an_interval_row_raises_a_typed_error(spark, interval_view):
    fut = Engine(spark=spark).sql_async(f"SELECT i FROM {interval_view}")
    with pytest.raises(HiveQLUnsupportedError, match="CAST the column to STRING"):
        fut.result(timeout=120)
