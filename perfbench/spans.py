"""Spans around the benchmark's calls, Spark event-log parsing, and the
attribution of Spark stages to spans.

Spans are recorded by the benchmark itself, around its own calls into
the program and (traced runs only) around module attributes the
program calls through. Spark work is attributed by time, not by job
group or call site: most of ``concept_features``' jobs run on the
program's own thread pool and carry neither the caller's job group nor
a useful call site (they are all
``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java``). A
stage belongs to the innermost span whose window contains its
submission time; a job likewise. Times are epoch seconds: Spark stamps
events with the same wall clock the driver process reads.
"""

from __future__ import annotations

import functools
import json
import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = math.inf
    parent: int | None = None


class Tracer:
    """Records nested spans from one thread (the benchmark's main
    thread), including spans around wrapped module attributes."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._restore: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(
            Span(name, time.time(), parent=self._stack[-1] if self._stack else None)
        )
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a
        ``span_name`` span per call; ``unwrap`` puts every original back."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(span_name):
                return orig(*a, **kw)

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


@dataclass
class Stage:
    stage_id: int
    submit: float
    complete: float
    n_tasks: int
    scopes: set = field(default_factory=set)
    task_s: float = 0.0
    max_task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    accums: dict = field(default_factory=dict)   # accumulator id -> value


@dataclass
class EventLog:
    stages: list
    jobs: list            # (job id, submit time)
    plan_metrics: dict    # plan node name -> {metric name: set(accumulator ids)}

    def node_metric(self, stage: Stage, node: str, metric: str) -> int:
        ids = self.plan_metrics.get(node, {}).get(metric, set())
        return sum(int(v) for k, v in stage.accums.items() if k in ids)


def _walk_plan(node: dict, out: dict) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        out.setdefault(name, {}).setdefault(m["name"], set()).add(m["accumulatorId"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def parse_event_log(lines) -> EventLog:
    """Parse an uncompressed Spark event log (one JSON event per line).

    Keeps completed stages with their RDD scope names, per-task executor
    run time, shuffle bytes written and bytes spilled (memory + disk),
    job submission times, and the accumulator ids of every SQL plan
    node's metrics (AQE re-plans add new ids for the same node name)."""
    stages: dict[int, Stage] = {}
    tasks: dict[int, list] = {}
    jobs = []
    plan_metrics: dict = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if "Submission Time" not in si or "Completion Time" not in si:
                continue
            scopes = set()
            for rdd in si.get("RDD Info", []):
                if rdd.get("Scope"):
                    scopes.add(json.loads(rdd["Scope"])["name"])
            stages[si["Stage ID"]] = Stage(
                stage_id=si["Stage ID"],
                submit=si["Submission Time"] / 1000.0,
                complete=si["Completion Time"] / 1000.0,
                n_tasks=si["Number of Tasks"],
                scopes=scopes,
                accums={
                    a["ID"]: a["Value"] for a in si.get("Accumulables", [])
                    if str(a.get("Value", "")).lstrip("-").isdigit()
                },
            )
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append((
                m.get("Executor Run Time", 0) / 1000.0,
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            ))
        elif kind == "SparkListenerJobStart":
            jobs.append((ev["Job ID"], ev["Submission Time"] / 1000.0))
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(ev.get("sparkPlanInfo", {}), plan_metrics)
    for sid, st in stages.items():
        ts = tasks.get(sid, [])
        st.task_s = sum(t[0] for t in ts)
        st.max_task_s = max((t[0] for t in ts), default=0.0)
        st.shuffle_write_bytes = sum(t[1] for t in ts)
        st.spill_bytes = sum(t[2] for t in ts)
    return EventLog(sorted(stages.values(), key=lambda s: s.submit), jobs, plan_metrics)


# --------------------------------------------------------------------------
# attribution
# --------------------------------------------------------------------------


def innermost(spans: list, t: float) -> int | None:
    """Index of the innermost span whose [start, end) holds ``t``.

    Spans nest, so among the spans holding ``t`` the innermost is the
    one that started last."""
    best = None
    for i, s in enumerate(spans):
        if s.start <= t < s.end and (best is None or s.start >= spans[best].start):
            best = i
    return best


def _union(intervals: list) -> list:
    out: list = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _subtract(base: list, holes: list) -> list:
    """Intervals of ``base`` not covered by ``holes`` (both lists of
    [a, b])."""
    out = []
    holes = _union(holes)
    for a, b in _union(base):
        cur = a
        for h0, h1 in holes:
            if h1 <= cur or h0 >= b:
                continue
            if h0 > cur:
                out.append([cur, h0])
            cur = max(cur, h1)
        if cur < b:
            out.append([cur, b])
    return out


def _length(intervals: list) -> float:
    return sum(b - a for a, b in intervals)


def self_intervals(spans: list, i: int) -> list:
    """Span ``i``'s window minus the windows of its direct children."""
    s = spans[i]
    kids = [[c.start, c.end] for c in spans if c.parent == i]
    return _subtract([[s.start, s.end]], kids)


SPAN_STATS = ("wall_s", "jobs", "tasks", "task_s", "no_stage_s", "busy",
              "shuffle_write_bytes", "spill_bytes")


def attribute(spans: list, log: EventLog, cores: int) -> dict:
    """Per span name: the eight SPAN_STATS over all spans of that name.

    ``wall_s`` sums self time (nested spans of another name are
    excluded, so parents and children never double count);
    ``no_stage_s`` is the part of that self time during which no stage
    of any span was running (planning, py4j calls, driver-side Python);
    ``busy`` is task_s / (wall_s x cores)."""
    out = {}
    busy = _union([[st.submit, st.complete] for st in log.stages])

    def row(name):
        return out.setdefault(name, dict.fromkeys(SPAN_STATS, 0))

    for i, s in enumerate(spans):
        own = self_intervals(spans, i)
        r = row(s.name)
        r["wall_s"] += _length(own)
        r["no_stage_s"] += _length(_subtract(own, busy))
    for st in log.stages:
        i = innermost(spans, st.submit)
        if i is None:
            continue
        r = row(spans[i].name)
        r["tasks"] += st.n_tasks
        r["task_s"] += st.task_s
        r["shuffle_write_bytes"] += st.shuffle_write_bytes
        r["spill_bytes"] += st.spill_bytes
    for _, submit in log.jobs:
        i = innermost(spans, submit)
        if i is not None:
            row(spans[i].name)["jobs"] += 1
    for r in out.values():
        r["busy"] = r["task_s"] / (r["wall_s"] * cores) if r["wall_s"] > 0 else 0.0
    return out


def stages_in(spans: list, log: EventLog, name: str) -> list:
    """Stages attributed to spans called ``name``."""
    return [
        st for st in log.stages
        if (i := innermost(spans, st.submit)) is not None and spans[i].name == name
    ]


# --------------------------------------------------------------------------
# latency statistics
# --------------------------------------------------------------------------

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 98.0, 99.0, 99.5, 99.9)


def percentile(samples: list, p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def tail(samples: list) -> tuple[float, float] | None:
    """(p, value) for the highest percentile of TAIL_LADDER that leaves
    at least ten samples strictly above its nearest rank; None when even
    the median does not."""
    n = len(samples)
    best = None
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100.0 * n) >= 10:
            best = (p, percentile(samples, p))
    return best
