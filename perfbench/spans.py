"""Spans kept in memory, a Spark event-log parser, and per-span costs.

A span records one call into the library: name, start, end, parent span
and operation id. Spark's event log (enabled only in the traced run) gives
every job's submission and completion time and every task's CPU, shuffle
and spill. A job belongs to the innermost span open at its submission time,
whichever thread submitted it, so jobs from the library's own thread pools
are counted too. A stage belongs to the job that ran it, a task to its
stage. Counts roll up to the enclosing spans, like wall time does.
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: Cost fields reported per span name (each a per-call mean).
FIELDS = ("wall_s", "self_s", "driver_s", "jobs", "stages", "tasks",
          "executor_cpu_s", "shuffle_bytes", "spill_bytes")


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: int = -1


class Tracer:
    """Records spans; ``span`` nests per thread."""

    def __init__(self, clock=time.time):
        self.spans: list[Span] = []
        self._clock = clock
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op = 0

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else -1
        s = Span(name, self.op, self._clock(), parent=parent)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(s)
        stack.append(idx)
        try:
            yield s
        finally:
            s.end = self._clock()
            stack.pop()

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a version that records a span; returns
        a function that restores the original."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, original)

    def dump(self, path: str, costs: list[dict[str, float]]) -> None:
        """Write one JSON line per span: its fields and its costs."""
        with open(path, "w") as f:
            for s, c in zip(self.spans, costs):
                f.write(json.dumps({**asdict(s), **c}) + "\n")


class NullTracer:
    """Stands in for :class:`Tracer` in untraced runs."""

    op = 0

    @contextmanager
    def span(self, name: str):
        yield None


# ---------------------------------------------------------------------------
# event log


@dataclass
class Job:
    submit: float
    end: float
    stage_ids: list[int]


@dataclass
class Stage:
    submit: float
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)


def event_log_files(directory: str) -> list[str]:
    """Event-log files under ``directory``: plain single files, or the
    ``events_<n>_*`` parts of a rolling log, in part order."""
    out = []
    for entry in sorted(glob.glob(os.path.join(directory, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            out += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            out.append(entry)
    return out


def parse_event_log(paths: list[str]) -> EventLog:
    """Jobs, stages and task totals from uncompressed JSON-lines event logs.
    Only stages that ran appear: skipped stages emit no completion."""
    log = EventLog()
    tasks: dict[tuple[int, int], list] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    log.jobs[e["Job ID"]] = Job(
                        e["Submission Time"] / 1000, float("nan"), list(e["Stage IDs"])
                    )
                elif kind == "SparkListenerJobEnd":
                    log.jobs[e["Job ID"]].end = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    log.stages[key] = Stage(info["Submission Time"] / 1000)
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault((e["Stage ID"], e["Stage Attempt ID"]), []).append(
                        e.get("Task Metrics") or {}
                    )
    for key, metrics in tasks.items():
        stage = log.stages.get(key)
        if stage is None:  # stage never completed (the run was cut)
            continue
        stage.tasks = len(metrics)
        for m in metrics:
            stage.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            stage.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            stage.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return log


# ---------------------------------------------------------------------------
# attribution


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, reach = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, end)
        if b > a:
            total += b - a
            reach = b
    return total


def innermost(spans: list[Span], t: float) -> int:
    """Index of the innermost span open at time ``t`` (-1 if none). Spans
    open in start order, so the latest-starting one that contains ``t`` is
    the innermost."""
    best = -1
    for i, s in enumerate(spans):
        # event-log times are whole milliseconds, truncated
        if _floor_ms(s.start) <= t <= s.end and (best < 0 or s.start >= spans[best].start):
            best = i
    return best


def _floor_ms(t: float) -> float:
    return math.floor(t * 1000) / 1000


def span_costs(spans: list[Span], log: EventLog | None) -> list[dict[str, float]]:
    """Per-span costs: wall, self (wall minus child spans), driver (wall not
    covered by any job) and the Spark counts of the span and its children."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        children.setdefault(s.parent, []).append(i)
    costs = []
    job_iv = [(j.submit, j.end) for j in log.jobs.values()] if log else []
    for i, s in enumerate(spans):
        kids = [(spans[k].start, spans[k].end) for k in children.get(i, [])]
        costs.append({
            "wall_s": s.end - s.start,
            "self_s": s.end - s.start - covered(s.start, s.end, kids),
            "driver_s": s.end - s.start - covered(s.start, s.end, job_iv),
            "jobs": 0, "stages": 0, "tasks": 0,
            "executor_cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
        })
    if log is None:
        return costs

    def charge(i: int, **amounts) -> None:
        while i >= 0:
            for k, v in amounts.items():
                costs[i][k] += v
            i = spans[i].parent

    job_span = {jid: innermost(spans, j.submit) for jid, j in log.jobs.items()}
    for jid, i in job_span.items():
        charge(i, jobs=1)
    listed: dict[int, list[int]] = {}
    for jid, j in log.jobs.items():
        for sid in j.stage_ids:
            listed.setdefault(sid, []).append(jid)
    for (sid, _attempt), st in log.stages.items():
        # the job that ran the stage: the latest-submitted job listing it
        # that was submitted no later than the stage itself
        owners = [jid for jid in listed.get(sid, []) if log.jobs[jid].submit <= st.submit]
        if not owners:
            continue
        i = job_span[max(owners, key=lambda jid: log.jobs[jid].submit)]
        charge(i, stages=1, tasks=st.tasks, executor_cpu_s=st.cpu_s,
               shuffle_bytes=st.shuffle_bytes, spill_bytes=st.spill_bytes)
    return costs


def per_name(spans: list[Span], costs: list[dict[str, float]], names) -> dict[str, dict[str, float]]:
    """Per-call mean of every cost field for each span name (zeros for a
    name that never ran), plus the call count."""
    out = {}
    for name in names:
        rows = [c for s, c in zip(spans, costs) if s.name == name]
        agg = {f: (sum(r[f] for r in rows) / len(rows) if rows else 0.0) for f in FIELDS}
        agg["calls"] = len(rows)
        out[name] = agg
    return out
