"""Spans recorded by the benchmark around its calls into the engine.

A span has a name, start, end, parent span and request id. Spans stay in
memory; ``Tracer.dump`` writes them out once the run ends. Each request
also runs under its own Spark job group, so the jobs and tasks it launched
are read back from ``statusTracker`` after the run.

``NullTracer`` has the same interface and records nothing, so the untraced
run goes through the same code paths with no bookkeeping.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def request(self, family: str):
        yield

    def wrap(self, obj, attr: str, name: str, own_jobs: bool = False) -> None:
        pass

    def mark(self) -> None:
        pass


class Tracer:
    """Collects spans, and the Spark job group of every request."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.groups: list[tuple[str, str]] = []  # (family, job group)
        self._stack: list[int] = []
        self._request: int | None = None
        self._requests = 0
        self._group: str | None = None
        self.measured_from = 0  # first span of the measured part
        self.overhead_s = 0.0

    def mark(self) -> None:
        """Spans and job groups recorded so far belong to set-up."""
        self.measured_from = len(self.spans)
        self.groups.clear()
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, 0.0, 0.0, parent, self._request))
        self._stack.append(sid)
        self.overhead_s += time.perf_counter() - t
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            s = self.spans[sid]
            s.start, s.end = start, end
            self._stack.pop()
            self.overhead_s += time.perf_counter() - end

    @contextlib.contextmanager
    def job_group(self, group: str, family: str):
        """Run the body under its own Spark job group, then restore the outer one."""
        t = time.perf_counter()
        outer = self._group
        self.sc.setJobGroup(group, family)
        self.groups.append((family, group))
        self._group = group
        self.overhead_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(outer, outer)
            self._group = outer
            self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def request(self, family: str):
        """One client request: a root span plus a job group of its own."""
        rid = self._requests
        self._requests += 1
        self._request = rid
        try:
            with self.job_group(f"r{rid}", family), self.span(f"request.{family}"):
                yield
        finally:
            self._request = None

    def wrap(self, obj, attr: str, name: str, own_jobs: bool = False) -> None:
        """Record a span around ``obj.attr`` on this one instance; with
        ``own_jobs`` its Spark jobs also go to a job group of their own.

        The engine calls some layers internally (the catalog read, view
        registration); wrapping the bound method on the instance the
        benchmark holds times them from outside the program's code."""
        inner = getattr(obj, attr)
        calls = itertools.count()

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.span(name):
                if not own_jobs:
                    return inner(*args, **kwargs)
                with self.job_group(f"{name}#{next(calls)}", name):
                    return inner(*args, **kwargs)

        setattr(obj, attr, traced)

    # -- results ------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the child spans'."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans[self.measured_from:]:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[s.id]
        return out

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans[self.measured_from:] if s.name == name]

    def job_counts(self, settle_s: float = 5.0) -> dict[str, tuple[int, int]]:
        """Median (jobs, tasks) per request of each family.

        ``statusTracker`` is fed by Spark's listener bus, which runs behind
        the actions, so the counts are read until two reads agree."""
        tracker = self.sc.statusTracker()

        def read():
            per: dict[str, list[tuple[int, int]]] = {}
            for family, group in self.groups:
                jobs = tracker.getJobIdsForGroup(group)
                tasks = 0
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    for st in info.stageIds if info else ():
                        sinfo = tracker.getStageInfo(st)
                        tasks += sinfo.numTasks if sinfo else 0
                per.setdefault(family, []).append((len(jobs), tasks))
            return per

        deadline = time.monotonic() + settle_s
        last = read()
        while time.monotonic() < deadline:
            time.sleep(0.5)
            cur = read()
            if cur == last:
                break
            last = cur
        return {
            fam: (
                int(statistics.median(j for j, _ in v)),
                int(statistics.median(t for _, t in v)),
            )
            for fam, v in last.items()
        }

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

