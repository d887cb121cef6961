"""Spans around the benchmark's calls into the engine, and the Spark
status-store metrics of the jobs each span ran.

A span records name, layer, start, end, parent and run id. A span that
runs Spark jobs sets a job group of its own, so the jobs, and the
stages of those jobs, attribute to it. Spans stay in memory until the
run writes them out. With tracing off the tracer records nothing and
sets no job groups.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Iterator

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    layer: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.sc = None  # SparkContext for job groups, set once a session exists

    @contextmanager
    def span(self, name: str, layer: str, kind: str = "call",
             jobs: bool = False) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, layer, kind, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None,
                 run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(s.id)
        if jobs and self.sc is not None:
            s.group = f"{self.run_id}-{s.id}"
            self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if s.group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": st[s.id]}) + "\n")


def drain(sc) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store holds the jobs that already ended."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def job_metrics(sc, job_ids: list[int]) -> dict:
    """Totals over the stages of ``job_ids`` (call drain() first):
    job count, input/shuffle/spill bytes, and the max/median task time
    of the widest stage that reads or writes shuffle data (most tasks,
    then most shuffle bytes)."""
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_q = sc._gateway.new_array(jvm.double, 0)
    out = {"jobs": len(job_ids), "input_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "task_skew": None}
    stage_ids = set()
    for j in job_ids:
        info = sc.statusTracker().getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    widest = None
    for sid in sorted(stage_ids):
        it = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_q).iterator()
        while it.hasNext():
            st = it.next()
            if st.status().toString() != "COMPLETE":
                continue
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            moved = st.shuffleReadBytes() + st.shuffleWriteBytes()
            if moved > 0 and (widest is None or (st.numTasks(), moved) > widest[2]):
                widest = (sid, st.attemptId(), (st.numTasks(), moved))
    if widest is not None:
        times = []
        it = store.taskList(widest[0], widest[1], 1 << 30).iterator()
        while it.hasNext():
            m = it.next().taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        times.sort()
        med = times[(len(times) - 1) // 2] if times else 0
        out["task_skew"] = times[-1] / med if med > 0 else None
    return out


def job_durations_ms(sc, job_ids: list[int]) -> list[float]:
    """Wall time of each finished job in ``job_ids`` (call drain() first)."""
    store = sc._jsc.sc().statusStore()
    out = []
    for j in job_ids:
        try:
            jd = store.job(j)
        except Py4JJavaError:  # no longer in the status store
            continue
        sub, end = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and end.isDefined():
            out.append(float(end.get().getTime() - sub.get().getTime()))
    return out
