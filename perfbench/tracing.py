"""Spans recorded from outside the engine, with Spark job attribution.

A span wraps one call into a layer's public function. Spans live in memory
and are written out once, when the run ends. Each span sets its own Spark
job group for the calling thread, so jobs the call submits from that thread
are attributed by group. Jobs the engine submits from helper threads carry
no group; they are attributed by time to the innermost span that was open
when their first stage was submitted.

The disabled tracer is a no-op context manager, so untraced runs pay one
attribute lookup per call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int = 0
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0
    items: int = 0          # work units the call handled, where known

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. `sc` is a SparkContext, or None for no job accounting."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request = 0
        self.unattributed_jobs: list[int] = []
        self.jobs_total = 0

    def _group(self, span_id: int) -> str:
        return f"perfbench-span-{span_id}"

    def new_request(self) -> int:
        self._request += 1
        return self._request

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(id=len(self.spans), name=name, start=time.time(),
                 parent=parent.id if parent else None,
                 request=parent.request if parent else self._request)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(self._group(s.id), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(self._group(parent.id), parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    # ---- job accounting (call once, after the traced work) --------------
    def attribute_jobs(self, drain_timeout: float = 10.0) -> None:
        """Fill `jobs` and `tasks` of every span from the status tracker.

        The tracker is fed by an asynchronous listener, so first wait until
        no job is active and the job count has stopped changing."""
        if self.sc is None or not self.enabled:
            return
        st = self.sc.statusTracker()
        deadline = time.time() + drain_timeout
        last = None
        while time.time() < deadline:
            seen = self._all_jobs(st)
            if not st.getActiveJobsIds() and seen == last:
                break
            last = seen
            time.sleep(0.2)
        jst = self.sc._jsc.statusTracker()   # Java tracker: has submission times
        by_id = {s.id: s for s in self.spans}
        grouped: set[int] = set()
        for s in self.spans:
            s.jobs = sorted(st.getJobIdsForGroup(self._group(s.id)))
            grouped.update(s.jobs)
        for jid in sorted(st.getJobIdsForGroup(None)):
            submitted = self._submitted(st, jst, jid)
            owner = self._innermost(submitted) if submitted is not None else None
            if owner is None:
                self.unattributed_jobs.append(jid)
            else:
                by_id[owner].jobs.append(jid)
        for s in self.spans:
            s.jobs.sort()
            s.tasks = sum(self._tasks(st, j) for j in s.jobs)
        self.jobs_total = len(grouped) + len(st.getJobIdsForGroup(None))

    def _all_jobs(self, st) -> int:
        n = len(st.getJobIdsForGroup(None))
        return n + sum(len(st.getJobIdsForGroup(self._group(s.id)))
                       for s in self.spans)

    @staticmethod
    def _submitted(st, jst, jid: int) -> float | None:
        """Epoch seconds at which the job's first stage was submitted."""
        info = st.getJobInfo(jid)
        times = []
        for sid in (info.stageIds if info else []):
            si = jst.getStageInfo(sid)
            if si is not None and si.submissionTime() > 0:
                times.append(si.submissionTime() / 1000.0)
        return min(times) if times else None

    @staticmethod
    def _tasks(st, jid: int) -> int:
        info = st.getJobInfo(jid)
        n = 0
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is not None:
                n += si.numCompletedTasks + si.numFailedTasks
        return n

    def _innermost(self, t: float) -> int | None:
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.id if best else None

    # ---- derived views ----------------------------------------------------
    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            cur_end = s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.id] = max(0.0, s.seconds - covered)
        return out

    def layer_self_seconds(self) -> dict[str, float]:
        own = self.self_seconds()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + own[s.id]
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        own = self.self_seconds()
        doc = {
            "spans": [dict(asdict(s), self_s=own[s.id]) for s in self.spans],
            "layer_self_s": self.layer_self_seconds(),
            "jobs_total": self.jobs_total,
            "unattributed_jobs": self.unattributed_jobs,
            **(extra or {}),
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
