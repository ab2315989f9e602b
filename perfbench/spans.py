"""Tracing for the benchmark's traced run.

Spans are recorded by wrappers the benchmark installs around the
program's layer boundaries (nothing under ``dasladen_spark/`` is
edited): each span keeps its name, start, end, parent and op id in
memory, and every Spark job launched inside a span carries the span
and op ids as job-local properties, so the event log can be folded
back onto ops and layers.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

OP_KEY = "perfbench.op"
SPAN_KEY = "perfbench.span"


class Tracer:
    """In-memory span recorder. Only the thread that created it is
    traced; calls from other threads (streaming callbacks, pollers)
    pass through untouched."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._op: str | None = None
        self._thread = threading.get_ident()

    def set_op(self, op: str | None) -> None:
        self._op = op
        self.sc.setLocalProperty(OP_KEY, op)

    @contextmanager
    def span(self, name: str, **attrs):
        if threading.get_ident() != self._thread:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": 0.0,
            "end": 0.0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setLocalProperty(SPAN_KEY, str(rec["id"]))
        rec["start"] = t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            rec["end"] = t2
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_KEY, str(self._stack[-1]) if self._stack else None
            )
            self.overhead_s += time.perf_counter() - t2

    def traced(self, fn, name: str, annotate=None):
        """``fn`` wrapped to run inside a span called ``name``;
        ``annotate(args, kwargs)`` returns extra span attributes."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = annotate(args, kwargs) if annotate else {}
            with self.span(name, **attrs):
                return fn(*args, **kwargs)

        return traced

    def wrap(self, owner, attr: str, name: str, annotate=None) -> None:
        """Replace ``owner.attr`` by its traced version."""
        setattr(owner, attr, self.traced(getattr(owner, attr), name, annotate))

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover
    (children of one span never overlap: they run on one thread)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


# -------------------------------------------------------- event log

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_FILE_SCAN = re.compile(r"^Scan (parquet|csv|json|orc|text|xml|avro)\b", re.I)
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "task_overhead_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "result_bytes",
    "file_scans",
    "python_nodes",
)


def _events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def _plan_nodes(info: dict):
    yield info.get("nodeName", "")
    for c in info.get("children", ()):
        yield from _plan_nodes(c)


def fold_event_log(paths: list[str]) -> tuple[dict[str, dict], dict[int, int]]:
    """Fold an uncompressed Spark event log (its files in order) into
    per-op counters.

    Returns ``(per_op, job_span)``: ``per_op[op]`` holds every name in
    ``COUNTERS``; ``job_span[job_id]`` is the innermost span id that
    launched the job. Jobs without an op label are filed under
    ``None``. Plan node counts come from each SQL execution's final
    (post-AQE) plan."""
    per_op: dict = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    job_span: dict[int, int] = {}
    stage_op: dict[int, str | None] = {}
    stages_seen: set[int] = set()
    exec_op: dict[int, str | None] = {}
    plans: dict[int, dict] = {}
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            op = props.get(OP_KEY)
            per_op[op]["jobs"] += 1
            if SPAN_KEY in props:
                job_span[ev["Job ID"]] = int(props[SPAN_KEY])
            for sid in ev.get("Stage IDs", ()):
                stage_op.setdefault(sid, op)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_op.setdefault(int(eid), op)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid not in stages_seen:
                stages_seen.add(sid)
                per_op[stage_op.get(sid)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            c = per_op[stage_op.get(ev["Stage ID"])]
            run_ms = m.get("Executor Run Time", 0)
            c["tasks"] += 1
            c["executor_run_s"] += run_ms / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            c["task_overhead_s"] += max(wall_ms - run_ms, 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["result_bytes"] += m.get("Result Size", 0)
        elif kind in (_SQL_START, _SQL_AQE):
            plans[ev["executionId"]] = ev["sparkPlanInfo"]
    for eid, info in plans.items():
        if eid not in exec_op:
            continue  # an execution that launched no job
        c = per_op[exec_op[eid]]
        for node in _plan_nodes(info):
            c["file_scans"] += bool(_FILE_SCAN.match(node))
            c["python_nodes"] += bool(_PYTHON_NODE.search(node))
    return dict(per_op), job_span


def find_event_log(log_dir: str) -> list[str]:
    """The event files of the one finished application log in
    ``log_dir``, in order: a single file, or the ``events_<n>_*``
    files of a rolling ``eventlog_v2_*`` directory."""
    logs = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    path = os.path.join(log_dir, logs[0])
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]
