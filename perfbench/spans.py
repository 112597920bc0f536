"""Tracing for the benchmark's traced run, and the reducer that turns spans
and Spark's event log into per-layer metrics.

Spans are recorded in memory, from the benchmark's own files only: around
the calls it makes into the program's public functions (``get_spark``,
``register_tables``, ``influxql``, the ``/query`` runner and the ``/update``
refresh handed to ``server.serve``, ``queries()`` entries). They are written
out once, when the run ends.

Spark work is attributed to an operation in one of two ways. Wrappers that
run in the thread doing the work set a per-operation job group, and the
event log carries it on each job. Streaming ``/update`` jobs run under the
stream's own job group, so those are attributed by time instead: the
workloads that refresh keep one operation in flight at a time.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    op: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and every
    context manager it hands out is free of side effects."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield attrs
            return
        start = time.time()
        try:
            yield attrs
        finally:
            s = Span(name, start, time.time(), op, attrs)
            with self._lock:
                self.spans.append(s)

    def depth(self) -> int:
        return getattr(self._local, "depth", 0)

    @contextlib.contextmanager
    def nested(self):
        self._local.depth = self.depth() + 1
        try:
            yield
        finally:
            self._local.depth -= 1

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def patch_influxql(tracer: Tracer):
    """Wrap ``functions.influxql.influxql`` so every top-level translation is
    a span carrying its statement text. Returns the undo callable."""
    from riot_graphs_spark.functions import influxql as mod

    original = mod.influxql

    def traced(source, query, *args, **kwargs):
        if tracer.depth():  # subquery recursion: part of the parent span
            return original(source, query, *args, **kwargs)
        with tracer.nested(), tracer.span("influxql.translate", stmt=query):
            return original(source, query, *args, **kwargs)

    mod.influxql = traced
    return lambda: setattr(mod, "influxql", original)


# ---------------------------------------------------------------------------
# Event-log reducer
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application logged under ``log_dir`` (plain or
    rolling layout, uncompressed)."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    )

    def roll_index(path: str) -> tuple:
        base = os.path.basename(path)
        parts = base.split("_")
        n = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(path), n)

    events: list[dict] = []
    for f in sorted(files, key=roll_index):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


@dataclass
class OpWindow:
    """One timed operation: its id, its wall-clock window (epoch seconds)
    and the job groups its own wrappers set."""
    op: str
    start: float
    end: float
    groups: tuple[str, ...] = ()


@dataclass
class OpStats:
    jobs: int = 0
    stages: int = 0
    sql_exec_ms: float = 0.0
    task_run_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    micro_batches: int = 0
    sql_intervals: list = field(default_factory=list)  # (start, end) epoch s
    jobs_by_group: dict = field(default_factory=lambda: defaultdict(int))


def reduce_event_log(events: list[dict], ops: list[OpWindow]) -> dict[str, OpStats]:
    """Attribute jobs, stages, SQL executions, task metrics and streaming
    micro-batches to operations. A job whose group one of ``ops`` set goes
    to that op; any other job goes to the op whose window holds its
    submission time."""
    by_group = {g: o.op for o in ops for g in o.groups}
    windows = sorted(ops, key=lambda o: o.start)

    def at(t_ms: float) -> str | None:
        t = t_ms / 1e3
        for o in windows:
            if o.start <= t <= o.end:
                return o.op
        return None

    stats: dict[str, OpStats] = {o.op: OpStats() for o in ops}
    stage_op: dict[int, str] = {}
    exec_op: dict[int, str] = {}
    sql_start: dict[int, tuple[float, int]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            op = by_group.get(group) or at(e["Submission Time"])
            if op is None:
                continue
            st = stats[op]
            st.jobs += 1
            st.jobs_by_group[group] += 1
            st.stages += len(e["Stage IDs"])
            for sid in e["Stage IDs"]:
                stage_op[sid] = op
            if "spark.sql.execution.id" in props:
                exec_op.setdefault(int(props["spark.sql.execution.id"]), op)
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if op is None or not m:
                continue
            st = stats[op]
            st.task_run_ms += m.get("Executor Run Time", 0)
            st.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        elif kind == _SQL_START:
            eid = e["executionId"]
            if e.get("rootExecutionId", eid) == eid:  # nested ones sit inside
                sql_start[eid] = e["time"]
        elif kind == _SQL_END:
            eid = e["executionId"]
            if eid in sql_start:
                t0 = sql_start.pop(eid)
                op = exec_op.get(eid) or at(t0)
                if op is not None:
                    stats[op].sql_exec_ms += e["time"] - t0
                    stats[op].sql_intervals.append((t0 / 1e3, e["time"] / 1e3))
        elif kind == _PROGRESS:
            ts = e["progress"]["timestamp"].replace("Z", "+00:00")
            op = at(dt.datetime.fromisoformat(ts).timestamp() * 1e3)
            if op is not None:
                stats[op].micro_batches += 1
    return stats
