"""Call spans recorded by the benchmark, and Spark's event log folded into them.

A span is one call from the benchmark (or a wrapped public method) into a
module of the engine: name, start, end, parent, and the Spark job group it
set on its own thread. After the session stops, ``fold_event_log`` reads the
uncompressed JSON event log and assigns every Spark job to a span:

- by job group, when the job was submitted from a thread the span labelled;
- otherwise by submission time, to the innermost span open at that moment
  (the engine's internal ``ThreadPoolExecutor`` threads do not inherit the
  caller's local properties, so their jobs carry no group).

Jobs that fall in no span are counted as unattributed.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field, fields
from pathlib import Path


@dataclass
class Span:
    id: str
    name: str
    start: float
    parent: str | None
    end: float | None = None
    jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return (self.end or time.time()) - self.start


@dataclass
class Counters:
    """Task totals of one Spark job, or summed over several."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "Counters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


@dataclass
class Job:
    submitted: float
    group: str | None
    counters: Counters


class Tracer:
    """Records spans in memory. With ``enabled=False`` every call is a no-op
    apart from running the wrapped code, so untraced runs do the same work."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None

    def attach(self, spark) -> None:
        """Label jobs with the open span's id from now on."""
        self._sc = spark.sparkContext if spark is not None else None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, parent: Span | None = None):
        """A span on the calling thread. ``parent`` links a span opened on a
        helper thread to the span that submitted its work."""
        return _SpanCtx(self, name, parent)

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- queries over recorded spans -----------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.named(name))

    def descendants(self, span: Span) -> list[Span]:
        kids: dict[str | None, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its child spans cover."""
        kids: dict[str | None, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(c.start, c.end or c.start) for c in kids.get(s.id, [])],
                s.start, s.end or s.start,
            )
            out[s.name] = out.get(s.name, 0.0) + max(0.0, s.duration - covered)
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, parent: Span | None) -> None:
        self.tracer = tracer
        self.name = name
        self.parent = parent
        self.span: Span | None = None
        self._prev_group = None

    def __enter__(self) -> Span | None:
        t = self.tracer
        if not t.enabled:
            return None
        stack = t._stack()
        if self.parent is not None:
            parent = self.parent.id
        else:
            parent = stack[-1].id if stack else None
        with t._lock:
            self.span = Span(f"bspan-{next(t._ids)}", self.name, time.time(), parent)
            t.spans.append(self.span)
        stack.append(self.span)
        if t._sc is not None:
            self._prev_group = t._sc.getLocalProperty("spark.jobGroup.id")
            t._sc.setLocalProperty("spark.jobGroup.id", self.span.id)
        return self.span

    def __exit__(self, *exc) -> None:
        t = self.tracer
        if self.span is None:
            return
        self.span.end = time.time()
        t._stack().pop()
        if t._sc is not None:
            try:
                t._sc.setLocalProperty("spark.jobGroup.id", self._prev_group)
            except Exception:  # the session may already be stopped
                pass


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: Path) -> dict[int, Job]:
    """Jobs with their stages' task totals, keyed in log order, from every
    event log in ``log_dir`` (one per SparkContext the run started)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[tuple[str, int], int] = {}
    for path in sorted(log_dir.iterdir()):
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = len(jobs)
                    jobs[key] = Job(
                        submitted=ev["Submission Time"] / 1000.0,
                        group=(ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        counters=Counters(jobs=1),
                    )
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault((path.name, sid), key)
                elif kind == "SparkListenerTaskEnd":
                    key = stage_job.get((path.name, ev.get("Stage ID")))
                    if key is None:
                        continue
                    c = jobs[key].counters
                    c.tasks += 1
                    if ev.get("Task End Reason", {}).get("Reason", "Success") != "Success":
                        c.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    c.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
                    c.jvm_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    c.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return jobs


def fold_event_log(tracer: Tracer, log_dir: Path) -> dict[int, Job]:
    """Assign every job in the event log to a span (``Span.jobs``) and
    return the jobs. Jobs left in no span stay unassigned."""
    jobs = read_event_log(log_dir)
    by_id = {s.id: s for s in tracer.spans}
    for key, j in jobs.items():
        target = by_id.get(j.group) if j.group else None
        if target is None:
            open_spans = [
                s for s in tracer.spans
                if s.start <= j.submitted <= (s.end or float("inf"))
            ]
            if open_spans:
                target = max(open_spans, key=lambda s: s.start)
        if target is not None:
            target.jobs.append(key)
    return jobs


def job_totals(tracer: Tracer, jobs: dict[int, Job], spans: list[Span]) -> Counters:
    """Summed counters of the jobs of the given spans and their descendants,
    each job counted once."""
    keys: set[int] = set()
    for s in spans:
        for d in tracer.descendants(s):
            keys.update(d.jobs)
    out = Counters()
    for k in keys:
        out.add(jobs[k].counters)
    return out
