"""Per-layer tracing from outside the engine.

The benchmark wraps each call into a layer's public function in a
:class:`Tracer` span. A span tags the Spark jobs it starts with
``SparkContext.setJobGroup(<span>)``; after the traced region, job and
stage counters are read back from the Spark UI REST API
(``sc.uiWebUrl + /api/v1/applications/<id>/jobs|stages``) and summed
per span. Jobs started from threads the engine creates itself (for
example the per-cluster RF fits) carry no group, because Spark's job
group is a thread-local property, nor do streaming micro-batch jobs,
which carry the query's run id as their group; both are attributed to
the span whose wall-clock window contains their submission time.
Spans never overlap, so that attribution is exact.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

SPAN_FIELDS = ("wall_s", "jobs", "tasks", "task_s", "gc_s", "shuffle_bytes", "spill_bytes")


@dataclass
class SpanStats:
    wall_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: SpanStats) -> None:
        for f in SPAN_FIELDS:
            setattr(self, f, getattr(self, f) + getattr(other, f))


@dataclass
class _Span:
    name: str
    start: float
    tagged: bool
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans; ``enabled=False`` makes every span a no-op so the
    untraced runs execute exactly the same calls."""

    sc: object
    enabled: bool = True
    spans: list[_Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        """A layer span: tags its jobs with ``name``. Spans with the
        same name accumulate."""
        if not self.enabled:
            yield
            return
        sp = _Span(name, time.time(), tagged=True)
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setJobGroup("", "")
            sp.end = time.time()
            self.spans.append(sp)

    @contextlib.contextmanager
    def window(self, name: str):
        """An enclosing span that tags nothing: it counts every job
        submitted while it is open, whichever layer span started it."""
        if not self.enabled:
            yield
            return
        sp = _Span(name, time.time(), tagged=False)
        try:
            yield
        finally:
            sp.end = time.time()
            self.spans.append(sp)

    def _get(self, path: str):
        app = self.sc.applicationId
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def collect(self, timeout_s: float = 30.0) -> dict[str, SpanStats]:
        """Per-span totals. Waits until the UI store has seen every job
        finish (the listener bus is asynchronous)."""
        deadline = time.time() + timeout_s
        while True:
            jobs = self._get("jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {}
        for st in self._get("stages"):
            stages.setdefault(st["stageId"], st)      # latest attempt listed first
        out = {sp.name: SpanStats() for sp in self.spans}
        for sp in self.spans:
            out[sp.name].wall_s += sp.end - sp.start
        tagged = {sp.name for sp in self.spans if sp.tagged}
        for job in jobs:
            t = _parse_time(job["submissionTime"])
            within = [sp for sp in self.spans if _within(t, sp)]
            # a streaming query tags its jobs with its own run id
            name = job.get("jobGroup")
            if name not in tagged:
                name = next((sp.name for sp in within if sp.tagged), None)
            targets = [sp.name for sp in within if not sp.tagged]
            if name is not None:
                targets.append(name)
            job_stats = self._job_stats(job, stages)
            for target in targets:
                out[target].add(job_stats)
        return out

    @staticmethod
    def _job_stats(job, stages) -> SpanStats:
        s = SpanStats(jobs=1)
        for sid in job["stageIds"]:
            st = stages.get(sid)
            if st is None or st["status"] == "SKIPPED":
                continue
            s.tasks += st["numCompleteTasks"] + st["numFailedTasks"]
            s.task_s += st["executorRunTime"] / 1000.0
            s.gc_s += st.get("jvmGcTime", 0) / 1000.0
            s.shuffle_bytes += st["shuffleWriteBytes"]
            s.spill_bytes += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        return s


def _within(t: float, sp: _Span) -> bool:
    # REST times have millisecond resolution
    return sp.start - 0.001 <= t <= sp.end + 0.001


def _parse_time(s: str) -> float:
    # e.g. "2026-01-02T03:04:05.678GMT"
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()
