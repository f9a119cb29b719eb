"""In-memory spans recorded around the benchmark's calls into the engine.

A span is (name, start, end, parent, run id, jobs). Spans nest per
thread. In a traced run each span also tags the Spark jobs it submits
with its own job group (``setJobGroup``) and counts them through the
status tracker, so a span's ``jobs`` are the jobs submitted directly
inside it, not inside its children. Jobs that do not inherit the job
group (AQE broadcast sub-jobs, streaming micro-batch jobs) are counted
by the workloads from the overall job-id counter instead.

:meth:`Tracer.wrap` replaces a public engine function by a spanning
wrapper for the rest of the process. It is only called in traced runs,
so untraced runs execute the engine exactly as shipped.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    jobs: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.sc = None  # set once a SparkContext exists

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        s = Span(next(self._ids), name, time.perf_counter(),
                 parent=stack[-1].id if stack else None, run=self.run_id)
        sc, group, prev = self.sc, f"pb-{self.run_id}-{s.id}", None
        if sc is not None:
            prev = sc.getLocalProperty(_JOB_GROUP)
            sc.setJobGroup(group, name)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            if sc is not None:
                s.jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                if prev is None:
                    sc.setLocalProperty(_JOB_GROUP, None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev, "")
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # --- analysis -------------------------------------------------------------

    def self_times(self, spans: list[Span] | None = None) -> dict[str, float]:
        """Per span name: total duration minus the time its children
        cover (children of one span never overlap: spans nest)."""
        spans = self.spans if spans is None else spans
        child = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s.name] += s.dur - child[s.id]
        return dict(out)

    def totals(self) -> dict[str, float]:
        """Per span name: total duration."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.dur
        return dict(out)

    def under(self, root: Span) -> list[Span]:
        """``root`` and every span nested below it."""
        by_parent = defaultdict(list)
        for s in self.spans:
            by_parent[s.parent].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(by_parent[s.id])
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def last_job_id(sc) -> int:
    """Highest job id submitted so far (-1 before the first job). Job
    ids are sequential per SparkContext, so differences count jobs,
    including those outside any job group. The status store lists jobs
    newest first."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return jobs.apply(0).jobId() if jobs.size() else -1


def job_seconds(sc, after: int, upto: int) -> dict[int, float]:
    """Wall seconds of each finished job with an id in (after, upto],
    from the status store (it keeps the most recent 1000 jobs)."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if after < j.jobId() <= upto and j.submissionTime().isDefined() \
                and j.completionTime().isDefined():
            out[j.jobId()] = (j.completionTime().get().getTime()
                              - j.submissionTime().get().getTime()) / 1e3
    return out
