"""Traced-run plumbing: spans around the benchmark's own calls.

Tracing lives entirely in the benchmark. :class:`Tracer` replaces
methods on the *instances the benchmark created* (never on classes, so
no other caller sees a wrapper) with a wrapper that

* records a span (layer name, start, end, parent span, operation), and
* tags every Spark job the call issues with a job group ``pb<span>``,
  restoring the parent's group on exit,

so :func:`read_event_log` can charge each job, stage and task in Spark's
own event log (``spark.eventLog.enabled``, uncompressed) to the span
that issued it. Tracing is only switched on for the operations chosen
to be traced; while off, a wrapper is a single attribute check.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_KEY = "spark.jobGroup.id"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_FILES_READ = "number of files read"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None  # id of the root span of the traced operation
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.on = False

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty(
            _GROUP_KEY, None if span is None else f"pb{span.id}"
        )

    @contextmanager
    def span(self, name: str):
        """A span around a block; yields the span, or None when off."""
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent and parent.id,
                  parent.op if parent else None)
        if sp.op is None:
            sp.op = sp.id
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, obj, method: str, name: str, on_result=None) -> None:
        """Trace ``obj.method`` under layer ``name`` (instance-level)."""
        orig = getattr(obj, method)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.on:
                return orig(*args, **kwargs)
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, result)
                return result

        setattr(obj, method, traced)

    # -- reading the spans back ------------------------------------------
    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def under(self, op: Span, name: str) -> list[Span]:
        return [s for s in self.spans if s.op == op.id and s.name == name]

    def self_time(self, span: Span) -> float:
        """Span duration minus the time its direct children cover."""
        kids = [s for s in self.spans if s.parent == span.id]
        return span.dur - sum(k.dur for k in kids)


@dataclass
class SparkCost:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    python_bytes: int = 0
    output_bytes: int = 0
    files_read: int = 0

    def add(self, other: "SparkCost") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


def _plan_metric_names(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metric_names(child, out)


def read_event_log(path: str) -> dict[int, SparkCost]:
    """Spark costs per span id, from an uncompressed event log."""
    cost: dict[int, SparkCost] = defaultdict(SparkCost)
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    metric_names: dict[int, str] = {}
    driver_updates: dict[int, list] = defaultdict(list)

    def span_of(props: dict | None) -> int | None:
        gid = (props or {}).get(_GROUP_KEY)
        return int(gid[2:]) if gid and gid.startswith("pb") else None

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                sid = span_of(ev.get("Properties"))
                if sid is None:
                    continue
                cost[sid].jobs += 1
                exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                if exec_id is not None:
                    exec_span.setdefault(int(exec_id), sid)
            elif kind == "SparkListenerStageSubmitted":
                sid = span_of(ev.get("Properties"))
                if sid is not None:
                    stage_span[ev["Stage Info"]["Stage ID"]] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                if sid is None:
                    continue
                c, m = cost[sid], ev.get("Task Metrics") or {}
                c.tasks += 1
                c.executor_run_s += m.get("Executor Run Time", 0) / 1000
                c.gc_s += m.get("JVM GC Time", 0) / 1000
                rd = m.get("Shuffle Read Metrics") or {}
                c.shuffle_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0)
                c.output_bytes += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0)
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") in (_PY_SENT, _PY_RETURNED):
                        c.python_bytes += int(acc.get("Update", 0))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metric_names(ev.get("sparkPlanInfo", {}), metric_names)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                # scan metrics are posted while planning, before the
                # execution's first job names its span
                driver_updates[ev["executionId"]].extend(ev["accumUpdates"])
    for exec_id, updates in driver_updates.items():
        sid = exec_span.get(exec_id)
        if sid is None:
            continue
        for acc_id, value in updates:
            if metric_names.get(acc_id) == _FILES_READ:
                cost[sid].files_read += int(value)
    return cost


def catalyst_s(df) -> float:
    """Analysis + optimization + planning time recorded by the
    QueryExecution's phase tracker of ``df``."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1000
