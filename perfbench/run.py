"""Engine benchmark: one workload, closed loop, one client on local[nproc].

Usage (from the repository root):

    python3 perfbench/run.py --workload olap_sf1 --seed 1 --seconds 5 --trace 0

Workloads: ``olap_sf1``, ``llm_pipeline``, ``hiveql_session`` (see
``workloads.py`` and ``METRICS.md``). A run first has a child process
build whatever the fixture cache lacks (``fixtures.py``), then starts the
session, sets the workload up, runs two warm-up passes (the
first with every result compared with DuckDB), then times whole passes
until ``--seconds`` have elapsed. ``--trace 1`` adds a traced window after the
untraced one and reports the per-layer metrics and the tracing overhead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it give every metric with its unit and sample count. The exit code is 0
only when every operation succeeded and every result matched; 2 when the
engine package is not next to ``perfbench/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import fixtures  # noqa: E402
from workloads import HIVEQL_FAMILIES  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_geomean_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["olap_sf1", "llm_pipeline", "hiveql_session"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--prepare", action="store_true", help="build the workload's fixture cache and exit")
    p.add_argument(
        "--corrupt-expected",
        metavar="KIND",
        help="self-test of the result check: replace KIND's expected result with a wrong one",
    )
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# Process hygiene: private scratch, host pinning, shutdown of the JVM tree
# ---------------------------------------------------------------------------


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _proc_stats() -> dict[int, list[str]]:
    """{pid: the fields of /proc/<pid>/stat after the command name}."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                out[int(entry)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for child, fields in _proc_stats().items():
        children.setdefault(int(fields[1]), []).append(child)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def private_dirs(run_dir: str) -> dict[str, str]:
    """Point every scratch location of Python, Spark and the engine into
    ``run_dir`` and pin the engine's parallelism to this host's cores."""
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "scratch", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_SCRATCH=dirs["scratch"],
        TMPDIR=dirs["tmp"],
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",  # no hsperfdata file in the system tmp
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    return dirs


def sweep_stale(work: str) -> None:
    """Remove run directories left by runs that were killed."""
    if not os.path.isdir(work):
        return
    for name in os.listdir(work):
        pid = name.removeprefix("run-")
        if pid.isdigit() and not _pid_alive(int(pid)):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)


def wait_session(sid: int, timeout_s: float = 60.0) -> None:
    """Wait until every process of session ``sid`` has ended; kill what is
    left after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [pid for pid, fields in _proc_stats().items() if int(fields[3]) == sid]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.2)


#: Driver heap per workload; sf1 joins broadcast tables that need more than 2 GB.
HEAP = {"olap_sf1": "6g", "llm_pipeline": "2g", "hiveql_session": "2g"}


def start_spark(app: str, tmp: str, heap: str = "2g"):
    from hive_2_3_2_spark.session import ENGINE_CONFS, get_spark

    spark = get_spark(
        app_name=app,
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            # A fixed, pre-touched heap: how far G1 grows a heap varies from
            # run to run by a quarter or more, which would swamp
            # peak_rss_mb. With the heap fixed, peak_rss_mb moves with the
            # memory outside it, and a change that needs a larger heap
            # fails the run instead of passing unseen.
            "spark.driver.memory": heap,
            "spark.driver.extraJavaOptions": (
                ENGINE_CONFS["spark.driver.extraJavaOptions"]
                + f" -Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch"
            ),
            # sample the driver's memory metrics every 100 ms
            "spark.executor.metrics.pollingInterval": "100ms",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_memory_metrics(spark) -> dict[str, int]:
    """The driver's ``peakMemoryMetrics`` from the UI REST API, in bytes."""
    from tracing import rest_json

    driver = [e for e in rest_json(spark.sparkContext, "allexecutors") if e["id"] == "driver"]
    return driver[0]["peakMemoryMetrics"]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the JVM
    started (the Python worker daemon) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    while any(_pid_alive(k) for k in kids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for k in kids:
        if _pid_alive(k):
            os.kill(k, signal.SIGKILL)


# ---------------------------------------------------------------------------
# Measurement
# ---------------------------------------------------------------------------


def timed_window(workload, run, seconds: float, first_pass: int):
    """Whole passes, closed loop, until ``seconds`` have elapsed."""
    records, p = [], first_pass
    t0 = time.perf_counter()
    while True:
        records.extend(run.count(op()) for op in workload.ops(run, p))
        p += 1
        if time.perf_counter() - t0 >= seconds:
            return records, time.perf_counter() - t0, p


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, samples beyond). With ten samples or fewer no
    percentile qualifies and the smallest sample is reported."""
    lat = sorted(latencies)
    rank = max(1, len(lat) - 10)
    return lat[rank - 1], 100.0 * rank / len(lat), len(lat) - rank


def end_to_end(records, elapsed: float) -> tuple[dict, dict, dict]:
    ok = [r for r in records if r.ok]
    lat = [r.latency_s for r in ok]
    by_kind: dict[str, list[float]] = {}
    for r in ok:
        by_kind.setdefault(r.kind, []).append(r.latency_s)
    t_val, t_pct, t_beyond = tail(lat)
    metrics = {
        "ops_per_s": len(records) / elapsed,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": t_val,
        "latency_geomean_s": math.exp(
            statistics.fmean(math.log(statistics.median(v)) for v in by_kind.values())
        ),
    }
    notes = {
        "ops_per_s": f"n={len(records)} ops in {elapsed:.2f} s",
        "latency_p50_s": f"n={len(lat)}",
        "latency_tail_s": f"p{t_pct:.1f}, n={len(lat)}, {t_beyond} samples beyond",
        "latency_geomean_s": f"{len(by_kind)} kinds, n={len(lat)}",
    }
    return metrics, notes, by_kind


def layer_metrics(run, records, setup_layers: dict, stream: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced window, aggregated per operation,
    and the same values per operation kind."""
    probe, self_t = run.probe, run.tracer.self_times()
    wanted: set[int] = set()
    stages_of = {}
    for r in records:
        jc, jx = probe.job_ids(f"{r.op}.c"), probe.job_ids(f"{r.op}.x")
        st = self_t.get(r.op, {})
        r.layers["jobs"] = len(jc) + len(jx)
        r.layers["exec_s"] = st.get("spark", 0.0)
        if r.family:
            r.layers["sql_s"] = st.get("engine", 0.0) + st.get("spark", 0.0)
            r.layers["sql_jobs"] = len(jc) + len(jx)
        else:
            r.layers["construct_s"] = st.get("suite", 0.0)
            r.layers["construct_jobs"] = len(jc)
        stages_of[r.op] = probe.stage_ids(jc + jx)
        wanted.update(stages_of[r.op])
    rest = probe.stage_rest(wanted)
    for r in records:
        ran = [rest[s] for s in stages_of[r.op] if s in rest and rest[s]["status"] != "SKIPPED"]
        r.layers["stages"] = len(ran)
        r.layers["tasks"] = sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran)
        r.layers["shuffle_write_bytes"] = sum(s["shuffleWriteBytes"] for s in ran)
        r.layers["spill_bytes"] = sum(s["diskBytesSpilled"] for s in ran)

    def mean(key: str, rows) -> float:
        vals = [r.layers[key] for r in rows if key in r.layers]
        return statistics.fmean(vals) if vals else 0.0

    suite_ops = [r for r in records if not r.family]
    sql_ops = [r for r in records if r.family]
    dml = [r for r in sql_ops if "files_written" in r.layers]
    affected = sum(r.layers["rows_affected"] for r in dml)
    m = {
        "session.start_s": setup_layers.get("session", 0.0),
        "catalog.register_s": setup_layers.get("catalog", 0.0),
        "llm.index_build_s": setup_layers.get("llm", 0.0),
        "suite.construct_s": mean("construct_s", suite_ops),
        "suite.construct_jobs": mean("construct_jobs", suite_ops),
        "engine.sql_s": mean("sql_s", sql_ops),
        "engine.sql_jobs": mean("sql_jobs", sql_ops),
        "hiveql_rewrites.rewrite_ms": mean("rewrite_ms", sql_ops),
        "spark.analysis_ms": mean("analysis_ms", records),
        "spark.optimization_ms": mean("optimization_ms", records),
        "spark.planning_ms": mean("planning_ms", records),
        "spark.exec_s": mean("exec_s", records),
        "spark.jobs": mean("jobs", records),
        "spark.stages": mean("stages", records),
        "spark.tasks": mean("tasks", records),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes", records),
        "spark.spill_bytes": mean("spill_bytes", records),
        "spark.python_eval_nodes": mean("python_eval_nodes", records),
        "writers.files_written": mean("files_written", dml),
        "writers.bytes_written_per_row_affected": (
            sum(r.layers["bytes_written"] for r in dml) / affected if affected else 0.0
        ),
        "writers.stored_bytes_per_row": stream.get("stored_bytes_per_row", 0.0),
        "streaming.batches": float(stream.get("batches", 0)),
        "streaming.batch_ms": stream.get("batch_ms", 0.0),
        "streaming.ingest_rows_per_s": stream.get("ingest_rows_per_s", 0.0),
    }
    for fam in HIVEQL_FAMILIES:
        rows = [r for r in sql_ops if r.family == fam]
        m[f"engine.sql_s.{fam}"] = mean("sql_s", rows)
        m[f"engine.sql_jobs.{fam}"] = mean("sql_jobs", rows)
    kinds: dict[str, dict] = {}
    for r in records:
        kinds.setdefault(r.kind, {"family": r.family, "lat": [], "rows": []})
        kinds[r.kind]["lat"].append(r.latency_s)
        kinds[r.kind]["rows"].append(r.layers)
    per_kind = {}
    for kind, v in kinds.items():
        keys = sorted({k for row in v["rows"] for k in row})
        per_kind[kind] = {
            "family": v["family"],
            "n": len(v["lat"]),
            "latency_p50_s": statistics.median(v["lat"]),
            **{k: statistics.fmean(row.get(k, 0.0) for row in v["rows"]) for k in keys},
        }
    return m, per_kind


PER_LAYER_UNITS = {
    "session.start_s": "s", "catalog.register_s": "s", "llm.index_build_s": "s",
    "suite.construct_s": "s", "suite.construct_jobs": "count",
    "engine.sql_s": "s", "engine.sql_jobs": "count", "hiveql_rewrites.rewrite_ms": "ms",
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms", "spark.planning_ms": "ms",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B", "spark.python_eval_nodes": "count",
    "writers.files_written": "count", "writers.bytes_written_per_row_affected": "B",
    "writers.stored_bytes_per_row": "B", "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.ingest_rows_per_s": "rows/s", "trace.overhead_pct": "%",
    "trace.untraced_ops_per_s": "1/s", "trace.traced_ops_per_s": "1/s",
    "spark.peak_heap_used_mb": "MB", "spark.peak_managed_mb": "MB",
}


def per_layer_unit(name: str) -> str:
    if name in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[name]
    return "count" if ".sql_jobs." in name else "s"


#: The per-layer metrics of the result line (BENCHMARK.json's per_layer).
#: Every metric is printed; the result line leaves out the times of layers
#: that a benchmarked workload does not run, which would read 0 there on
#: every run (llm.*, suite.construct_s, engine.sql_s*, hiveql_rewrites.*,
#: streaming.batch_ms).
PER_LAYER_JSON = [
    "session.start_s", "catalog.register_s", "suite.construct_jobs", "engine.sql_jobs",
    *(f"engine.sql_jobs.{fam}" for fam in HIVEQL_FAMILIES),
    "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms", "spark.exec_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.python_eval_nodes", "spark.peak_heap_used_mb",
    "spark.peak_managed_mb", "writers.files_written",
    "writers.bytes_written_per_row_affected", "writers.stored_bytes_per_row",
    "streaming.batches", "streaming.ingest_rows_per_s", "trace.untraced_ops_per_s",
    "trace.traced_ops_per_s", "trace.overhead_pct",
]


def print_kind_table(per_kind: dict) -> None:
    cols = [
        ("latency_p50_s", "p50_s"), ("construct_s", "build_s"), ("sql_s", "sql_s"),
        ("exec_s", "exec_s"), ("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
        ("analysis_ms", "ana_ms"), ("optimization_ms", "opt_ms"), ("planning_ms", "plan_ms"),
        ("shuffle_write_bytes", "shufMB"), ("spill_bytes", "spillMB"),
        ("python_eval_nodes", "pyeval"), ("files_written", "files"),
    ]
    print("per-kind (traced window, mean per operation):")
    print(f"  {'kind':32s} {'n':>3s} " + " ".join(f"{h:>8s}" for _, h in cols))
    for kind, v in sorted(per_kind.items()):
        cells = []
        for key, _ in cols:
            x = v.get(key)
            if x is None:
                cells.append(f"{'-':>8s}")
            elif key.endswith("_bytes"):
                cells.append(f"{x / 2**20:8.2f}")
            else:
                cells.append(f"{x:8.3f}" if isinstance(x, float) and x < 1000 else f"{x:8.0f}")
        print(f"  {kind:32s} {v['n']:3d} " + " ".join(cells))


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------


#: Fixture scales each workload reads.
SCALES = {"olap_sf1": ["sf0.1", "sf1"], "llm_pipeline": ["sf0.1"], "hiveql_session": ["sf0.1"]}


def scale_up(src: str, dst: str, cwd: str) -> None:
    """sf1: the repository's ``tools/make_sf_scale.py 10`` over sf0.1."""
    proc = subprocess.Popen(
        [sys.executable, fixtures.SCALE_UP_TOOL, "10", src, dst],
        cwd=cwd, stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=1200)
    finally:
        wait_session(proc.pid)
    if code:
        raise RuntimeError(f"make_sf_scale.py exited with {code}")


def prepare_cache(workload: str, run_dir: str, tmp: str) -> None:
    """Build what ``workload`` needs of the fixture cache: the fixtures,
    their row-count check, the expected digests and the IVF index. Runs in
    a child process, so that none of it counts in the run's memory."""
    from workloads import expected_digests

    dirs = fixtures.scale_dirs()
    os.makedirs(fixtures.derived_dir(), exist_ok=True)
    with open(os.path.join(BENCH_DIR, ".cache", ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # concurrent first runs in one checkout
        for scale in SCALES[workload]:
            if os.path.isdir(dirs[scale]):
                continue
            part = dirs[scale] + ".tmp"
            shutil.rmtree(part, ignore_errors=True)
            if scale == "sf0.1":
                fixtures.generate(part)
            else:
                scale_up(dirs["sf0.1"], part, run_dir)
            counts = fixtures.row_counts(part)
            for table, n in fixtures.ROWS_EXPECTED[scale].items():
                if counts.get(table) != n:
                    raise RuntimeError(f"{scale} fixture: {table} has {counts.get(table)} rows, not {n}")
            os.rename(part, dirs[scale])
        path = fixtures.expected_path()
        if not os.path.exists(path):
            with open(path + ".tmp", "w") as f:
                json.dump(expected_digests(dirs["sf0.1"]), f, indent=1, sort_keys=True)
            os.rename(path + ".tmp", path)
        index = fixtures.ivf_index_cache("sf0.1")
        if workload == "llm_pipeline" and not os.path.isdir(index):
            from hive_2_3_2_spark.suite.llm_similarity import ensure_ivf_index

            spark = start_spark("perfbench-prepare", tmp)
            try:
                built = ensure_ivf_index(spark, dirs["sf0.1"])
            finally:
                stop_spark(spark)
            shutil.copytree(built, index + ".tmp")
            os.rename(index + ".tmp", index)


def execute(args, run_dir: str, tmp: str, fixture_s: float) -> tuple[dict, bool]:
    import duckdb
    import pyspark

    from tracing import SparkProbe, Tracer, vm_hwm_kb
    from workloads import WORKLOADS, Run

    dirs = fixtures.scale_dirs()
    with open(fixtures.expected_path()) as f:
        expected = json.load(f)
    cores = len(os.sched_getaffinity(0))
    print(
        f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} cores={cores} spark={pyspark.__version__} "
        f"python={sys.version.split()[0]} duckdb={duckdb.__version__} fixture_prep_s={fixture_s:.2f}"
    )
    tracer = Tracer(enabled=bool(args.trace))
    with tracer.span("session", "setup"):
        t = time.perf_counter()
        spark = start_spark(f"perfbench-{args.workload}", tmp, HEAP[args.workload])
        session_s = time.perf_counter() - t
    try:
        run = Run(
            spark=spark, tracer=tracer, probe=None, seed=args.seed, dirs=dirs,
            expected=expected, run_dir=run_dir, corrupt=args.corrupt_expected,
        )
        workload = WORKLOADS[args.workload]()
        setup_layers = {"session": session_s, **workload.setup(run)}
        t_warm = time.perf_counter()
        tracer.enabled = False
        workload.warmup(run)
        timed_window(workload, run, 0, 1)  # a second, unchecked warm-up pass
        phases = {"warmup": time.perf_counter() - t_warm}
        setup_s = time.perf_counter() - T_START - fixture_s - run.check_s
        records, elapsed, next_pass = timed_window(workload, run, args.seconds, 2)
        phases["window"] = elapsed
        t_after = time.perf_counter()
        e2e, notes, by_kind = end_to_end(records, elapsed)
        e2e["setup_s"] = setup_s
        notes["setup_s"] = "n=1 (process start to ready; fixture cache preparation and result checks excluded)"
        layers = per_kind = None
        if args.trace:
            tracer.enabled, run.probe = True, SparkProbe(spark)
            traced, t_elapsed, next_pass = timed_window(workload, run, args.seconds, next_pass)
            tracer.enabled = False
        stream = workload.stream(run)
        # memory before the end-of-run checks, which are the benchmark's own work
        py_mb, jvm_mb = vm_hwm_kb(os.getpid()) / 1024.0, vm_hwm_kb(jvm_pid()) / 1024.0
        e2e["peak_rss_mb"] = py_mb + jvm_mb
        notes["peak_rss_mb"] = f"VmHWM: Python {py_mb:.0f} + JVM {jvm_mb:.0f}, heap fixed at {HEAP[args.workload]}"
        peaks = peak_memory_metrics(spark) if args.trace else {}
        stream.update(workload.check(run))
        if args.trace:
            layers, per_kind = layer_metrics(run, traced, setup_layers, stream)
            t_ops = len(traced) / t_elapsed
            layers["trace.untraced_ops_per_s"] = e2e["ops_per_s"]
            layers["trace.traced_ops_per_s"] = t_ops
            layers["trace.overhead_pct"] = (e2e["ops_per_s"] / t_ops - 1.0) * 100.0
            layers["spark.peak_heap_used_mb"] = peaks["JVMHeapMemory"] / 2**20
            layers["spark.peak_managed_mb"] = peaks["OnHeapUnifiedMemory"] / 2**20
        phases["after_window"] = time.perf_counter() - t_after
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
    phases["stop"] = time.perf_counter() - t_stop
    print(
        "phases_s: "
        + " ".join(f"{k}={v:.2f}" for k, v in {**setup_layers, **phases}.items())
        + f" checks={run.check_s:.2f} total={time.perf_counter() - T_START:.2f}"
    )
    correct = run.failed == 0
    for err in run.errors[:20]:
        print(f"FAILED {err[:500]}")
    for name in E2E_UNITS:
        print(f"metric {name} = {e2e[name]:.6g} {E2E_UNITS[name]} ({notes[name]})")
    extra = {
        "latency_tail_s": (e2e["latency_tail_s"], "s", notes["latency_tail_s"]),
        "error_rate": (run.failed / run.attempted, "ratio", f"{run.failed} of {run.attempted} operations"),
    }
    if "ingest_rows_per_s" in stream:
        extra["ingest_rows_per_s"] = (stream["ingest_rows_per_s"], "rows/s", f"{stream['batches']} batches")
        extra["stored_bytes_per_row"] = (stream["stored_bytes_per_row"], "B", "customer_w, orders_w, stream_target")
    for name, (val, unit, note) in extra.items():
        print(f"metric {name} = {val:.6g} {unit} ({note})")
    print("kind p50_s (untraced window): " + " ".join(
        f"{k}={statistics.median(v):.3f}" for k, v in sorted(by_kind.items())))
    if args.trace:
        print_kind_table(per_kind)
        for name, val in layers.items():
            print(f"layer {name} = {val:.6g} {per_layer_unit(name)}")
        print(
            f"tracing overhead: {layers['trace.overhead_pct']:.1f}% "
            f"(untraced {layers['trace.untraced_ops_per_s']:.4g} ops/s, traced {layers['trace.traced_ops_per_s']:.4g} ops/s)"
        )
        tracer.dump(
            os.path.join(BENCH_DIR, "out", f"trace-{args.workload}-seed{args.seed}.json"),
            {"per_kind": per_kind, "per_layer": layers, "end_to_end": e2e},
        )
        metrics = {k: {"value": layers[k], "unit": per_layer_unit(k)} for k in PER_LAYER_JSON}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    return {"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}, correct


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "hive_2_3_2_spark", "__init__.py")):
        print(f"perfbench: engine package hive_2_3_2_spark not found in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(BENCH_DIR, ".work")
    sweep_stale(work)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    try:
        dirs = private_dirs(run_dir)
        if args.prepare:
            prepare_cache(args.workload, run_dir, dirs["tmp"])
            return 0
        fixture_s = 0.0
        if fixtures.missing(SCALES[args.workload], args.workload == "llm_pipeline"):
            t = time.perf_counter()
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                 "--seconds", "0", "--prepare"],
                stdout=sys.stderr, check=True,
            )
            fixture_s = time.perf_counter() - t
        result, correct = execute(args, run_dir, dirs["tmp"], fixture_s)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
