"""Spans and per-operation counters for the traced benchmark run.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into a layer's public functions, and the counters
read Spark's public status surfaces (``StatusTracker``, the query
execution's ``QueryPlanningTracker``, the UI REST API). With tracing
off, ``Tracer.span`` returns a shared no-op context manager and no job
group, plan walk or REST call happens.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import urllib.request
from dataclasses import dataclass, field

#: Physical-plan nodes that evaluate Python (the pandas/Arrow UDF boundary).
_PYTHON_EVAL = re.compile(r"\b\w*(?:EvalPython|InPandas|InArrow)\w*\b")
_NULL_SPAN = contextlib.nullcontext()


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, op: str):
        if not self.enabled:
            return _NULL_SPAN
        return self._span(name, op)

    @contextlib.contextmanager
    def _span(self, name: str, op: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, op, time.perf_counter(), parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, dict[str, float]]:
        """{op: {layer: self seconds}}: each span's duration minus the part
        of it that its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            covered, last = 0.0, s.start
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            layers = out.setdefault(s.op, {})
            layers[s.name] = layers.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {
                "id": i,
                "name": s.name,
                "op": s.op,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "parent": s.parent,
            }
            for i, s in enumerate(self.spans)
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


class SparkProbe:
    """Per-operation Spark counters, read through public status APIs."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext

    # -- job groups ---------------------------------------------------------
    def group(self, group_id: str) -> None:
        self.sc.setJobGroup(group_id, group_id)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group_id: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group_id))

    def stage_ids(self, job_ids: list[int]) -> list[int]:
        tracker = self.sc.statusTracker()
        out: list[int] = []
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                out.extend(info.stageIds)
        return out

    # -- Catalyst phases and the executed plan ------------------------------
    @staticmethod
    def plan_phases(df) -> dict[str, float]:
        """Catalyst phase durations (ms) of ``df``'s own query execution;
        reading the executed plan forces optimization and planning."""
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        phases = qe.tracker().phases()
        out = {"python_eval_nodes": float(len(_PYTHON_EVAL.findall(plan)))}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[f"{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    # -- UI REST: shuffle and spill bytes per stage --------------------------
    def stage_rest(self, wanted: set[int], timeout_s: float = 10.0) -> dict[int, dict]:
        """Latest attempt of every wanted stage from the UI REST API. The
        status store is fed asynchronously, so poll until no wanted stage
        is still pending or active."""
        deadline = time.monotonic() + timeout_s
        while True:
            stages = rest_json(self.sc, "stages")
            latest: dict[int, dict] = {}
            for st in stages:
                sid = st["stageId"]
                if sid in wanted and st["attemptId"] >= latest.get(sid, {}).get("attemptId", -1):
                    latest[sid] = st
            busy = [s for s in latest.values() if s["status"] in ("ACTIVE", "PENDING")]
            if not busy or time.monotonic() > deadline:
                return latest
            time.sleep(0.2)


def rest_json(sc, endpoint: str):
    """One endpoint of this application in the UI REST API."""
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{endpoint}"
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of the data files under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")):
                continue
            full = os.path.join(root, name)
            st = os.stat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) that are new or rewritten between two listings."""
    new = [k for k, v in after.items() if before.get(k) != v]
    return len(new), sum(after[k][0] for k in new)


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of a process, in kB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
