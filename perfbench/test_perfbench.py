"""Self-tests of the benchmark (not part of the engine's test suite).

Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The first run builds the fixture cache, sf1 included (a few minutes).
"""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
for p in (ROOT, BENCH_DIR):
    if p not in sys.path:
        sys.path.insert(0, p)

import run as bench  # noqa: E402
import workloads  # noqa: E402
import fixtures  # noqa: E402
from fixtures import _table, digest, duckdb_views  # noqa: E402
from tracing import SparkProbe, Tracer  # noqa: E402


def test_benchmark_json_names_what_the_command_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        name: bench.per_layer_unit(name) for name in bench.PER_LAYER_JSON
    }
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_digest_ignores_row_and_column_order():
    import pyarrow as pa

    t = _table("orders", 2_000)
    shuffled = t.take(pa.array(list(range(1_999, -1, -1)))).select(list(reversed(t.column_names)))
    assert digest(shuffled) == digest(t)
    assert digest(t.slice(1)) != digest(t)


def test_digest_agrees_with_the_engine_tests_comparison():
    """Two tables have the same digest exactly when tests/conftest.py's
    rows_to_canonical gives them the same canonical form."""
    import pyarrow as pa

    def canonical(t):
        return fixtures.engine_conftest().rows_to_canonical(
            [c.lower() for c in t.column_names], [tuple(r.values()) for r in t.to_pylist()]
        )

    base = pa.table({
        "k": pa.array([1, 2, 3], pa.int64()),
        "x": pa.array([0.1, -0.0, None]),
        "s": pa.array(["a", None, "c"]),
        "d": pa.array([dt for dt in _table("orders", 3)["o_orderdate"].to_pylist()]),
        "v": pa.array([[1.0, 2.0], [], None], pa.list_(pa.float64())),
    })
    variants = [
        base.take(pa.array([2, 0, 1])),  # row order
        base.set_column(1, "x", pa.array([0.1 + 1e-15, 0.0, None])),  # float noise, -0.0
        base.set_column(1, "x", pa.array([0.2, 0.0, None])),  # a different value
        base.set_column(2, "s", pa.array(["a", "", "c"])),  # empty string
        base.set_column(4, "v", pa.array([[1.0, 2.5], [], None], pa.list_(pa.float64()))),
        base.slice(1),
    ]
    for v in variants:
        assert (digest(v) == digest(base)) == (canonical(v) == canonical(base))


def test_dedup_oracle_matches_registry_oracle():
    """DEDUP_ORACLE is the registry oracle of dedup_minhash_near_duplicates
    rewritten through an inverted index; both must give the same rows."""
    import duckdb

    from hive_2_3_2_spark.suite import load_all

    docs = _table("documents", 400)
    con = duckdb.connect()
    con.register("documents", docs)
    registry = load_all()["dedup_minhash_near_duplicates"].oracle
    want = con.execute(registry).fetch_arrow_table()
    got = con.execute(workloads.DEDUP_ORACLE).fetch_arrow_table()
    con.close()
    assert want.num_rows > 0
    assert digest(got) == digest(want)


def test_timed_operations_never_count():
    """Static guard: the timed operations end in the noop sink."""
    for op in (workloads.SuiteWorkload._op, workloads.HiveQLWorkload._op):
        src = inspect.getsource(op)
        assert "noop(df)" in src
        assert ".count()" not in src
    assert 'format("noop")' in inspect.getsource(workloads.noop)


def prepare(workload: str) -> None:
    """Build the fixture cache in a child process, as a run does (the
    index build stops its own session)."""
    subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seconds", "0", "--prepare"],
        cwd=ROOT, timeout=1200, check=True,
    )


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("perfbench-run"))
    dirs = bench.private_dirs(run_dir)
    prepare("llm_pipeline")
    with open(fixtures.expected_path()) as f:
        expected = json.load(f)
    spark = bench.start_spark("perfbench-selftest", dirs["tmp"])
    yield spark, run_dir, fixtures.scale_dirs(), expected
    bench.stop_spark(spark)


def _run(session, run_dir_name: str):
    spark, run_dir, dirs, expected = session
    sub = os.path.join(run_dir, run_dir_name)
    os.makedirs(sub)
    return workloads.Run(
        spark=spark, tracer=Tracer(enabled=False), probe=None, seed=7, dirs=dirs,
        expected=expected, run_dir=sub, corrupt=None,
    )


@pytest.mark.parametrize("name", ["llm_pipeline", "hiveql_session"])
def test_every_timed_operation_ends_in_one_noop_write(session, monkeypatch, name):
    """Each timed operation hands its DataFrame to the noop sink exactly
    once, as its last action."""
    run = _run(session, name)
    workload = workloads.WORKLOADS[name]()
    workload.setup(run)
    events: list[str] = []
    real_noop = workloads.noop

    def recording_noop(df):
        events.append("noop")
        real_noop(df)

    monkeypatch.setattr(workloads, "noop", recording_noop)
    for op in workload.ops(run, 1):
        before = len(events)
        rec = op()
        assert rec.ok, rec.error
        assert events[before:] == ["noop"], rec.kind


def test_noop_sink_runs_work_that_count_prunes(session):
    """The reason for the noop sink: count() lets the optimizer drop a
    projected Python UDF; the noop write evaluates it for every row."""
    from pyspark.sql import functions as F

    spark = session[0]
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def touch(x):
        acc.add(1)
        return x

    df = spark.range(500).select(touch("id").alias("y"))
    df.count()
    assert acc.value == 0
    workloads.noop(df)
    assert acc.value == 500


def test_python_eval_nodes_counts_the_python_udf_boundary(session):
    from pyspark.sql import functions as F

    plus_one = F.udf(lambda x: x + 1, "long")
    df = session[0].range(10).select(plus_one("id").alias("y"))
    assert SparkProbe.plan_phases(df)["python_eval_nodes"] >= 1
    assert SparkProbe.plan_phases(session[0].range(10))["python_eval_nodes"] == 0


def test_similarity_probe_only_plan_keeps_its_join(session):
    from hive_2_3_2_spark.suite import load_all

    run = _run(session, "probe")
    workload = workloads.WORKLOADS["llm_pipeline"]()
    workload.setup(run)
    df = load_all()["similarity_probe_only"].fn(run.spark, workload.sf_dir)
    workloads.noop(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan, plan


def test_wrong_expected_result_fails_the_command():
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "llm_pipeline",
         "--seed", "1", "--seconds", "0", "--trace", "0",
         "--corrupt-expected", "chunk_documents_overlapping"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode != 0
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1
    assert "chunk_documents_overlapping: result differs from DuckDB" in proc.stdout


def test_sf1_is_ten_key_shifted_copies_of_sf01():
    import duckdb

    prepare("olap_sf1")
    dirs = fixtures.scale_dirs()
    con = duckdb.connect()
    duckdb_views(con, dirs["sf1"])
    assert con.execute("SELECT count(*) FROM lineitem").fetchone()[0] == 6_000_000
    copies = "SELECT count(DISTINCT l_orderkey // 100000000) FROM lineitem"
    assert con.execute(copies).fetchone()[0] == 10
    con.close()
