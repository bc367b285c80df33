"""In-memory tracing for the traced benchmark run.

* Spans wrap the module-level names the engine resolves at call time
  (``plans.pipeline.upsert_partitions``, ``queries.serving.bars_silver``,
  ...), so the engine itself is not edited. A span records its name,
  parent, start and end, and the Spark jobs started while it was open.
* Each op runs under its own Spark job group; a span's jobs are the
  group's job ids above the highest id seen when the span opened
  (``statusTracker`` job-id ranges). Stage and task counts come from the
  same tracker right after the op.
* Task metrics (shuffle bytes, spill, executor run/CPU/GC time) and job
  submit/complete times come from the Spark event log, folded once the
  session has stopped.

Nothing is written until :meth:`Tracer.dump` at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Op:
    idx: int
    kind: str  # workload-specific label, e.g. "load", "restate", a query name
    phase: str  # "cold" | "warm"
    wall_s: float = 0.0
    jobs: dict[int, tuple[frozenset[int], int]] = field(default_factory=dict)  # job -> (stages run, tasks)


class Tracer:
    """Spans and per-op Spark job accounting for one SparkSession."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.enabled = True
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._group: str | None = None

    # -- job ids -----------------------------------------------------------
    def _job_ids(self) -> list[int]:
        if self._group is None:
            return []
        return list(self.sc.statusTracker().getJobIdsForGroup(self._group))

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or not self.ops:
            yield None
            return
        mark = max(self._job_ids(), default=-1)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, self.ops[-1].idx, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.jobs = sorted(j for j in self._job_ids() if j > mark)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    # -- ops -----------------------------------------------------------------
    @contextlib.contextmanager
    def op(self, kind: str, phase: str):
        """One timed op. Yields the :class:`Op`; its ``wall_s`` is set on exit."""
        o = Op(len(self.ops), kind, phase)
        self.ops.append(o)
        self._group = f"perfbench-op-{o.idx}"
        self.sc.setJobGroup(self._group, f"{kind} ({phase})")
        with self.span("op"):
            t0 = time.perf_counter()
            try:
                yield o
            finally:
                o.wall_s = time.perf_counter() - t0
        tracker = self.sc.statusTracker()
        for j in self._job_ids():
            info = tracker.getJobInfo(j)
            stages, tasks = set(), 0
            for s in (info.stageIds if info else []):
                st = tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks > 0:
                    stages.add(s)
                    tasks += st.numCompletedTasks
            o.jobs[j] = (frozenset(stages), tasks)
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            self.sc.setLocalProperty(prop, None)
        self._group = None

    # -- derived ---------------------------------------------------------------
    def children(self, i: int) -> list[int]:
        return [k for k, s in enumerate(self.spans) if s.parent == i]

    def self_time(self, i: int) -> float:
        return self.spans[i].dur - sum(self.spans[k].dur for k in self.children(i))

    def self_jobs(self, i: int) -> set[int]:
        own = set(self.spans[i].jobs)
        for k in self.children(i):
            own -= set(self.spans[k].jobs)
        return own

    def span_counts(self, i: int) -> tuple[int, int, int]:
        """(jobs, stages, tasks) started under span ``i``, children included."""
        sp = self.spans[i]
        op = self.ops[sp.op]
        stages: set[int] = set()
        tasks = 0
        for j in sp.jobs:
            st, t = op.jobs.get(j, (frozenset(), 0))
            stages |= st
            tasks += t
        return len(sp.jobs), len(stages), tasks

    def dump(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = {
            "summary": summary,
            "ops": [
                {"idx": o.idx, "kind": o.kind, "phase": o.phase, "wall_s": o.wall_s,
                 "jobs": sorted(o.jobs)}
                for o in self.ops
            ],
            "spans": [
                {"name": s.name, "parent": s.parent, "op": s.op, "start": s.start,
                 "dur_s": s.dur, "self_s": self.self_time(k), "jobs": s.jobs}
                for k, s in enumerate(self.spans)
            ],
        }
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(doc, fh, indent=1)


@dataclass
class JobTaskMetrics:
    submit_ms: int = 0
    complete_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0


def fold_event_log(log_dir: str, app_id: str) -> dict[int, JobTaskMetrics]:
    """Per-job task metrics and submit/complete times from the event log of
    ``app_id`` (read after the session has stopped)."""
    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    jobs: dict[int, JobTaskMetrics] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = ev["Job ID"]
                jobs[j] = JobTaskMetrics(submit_ms=ev.get("Submission Time", 0))
                for s in ev.get("Stage IDs", []):
                    stage_job.setdefault(s, j)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].complete_ms = ev.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                j = stage_job.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if j is None or not tm:
                    continue
                m = jobs[j]
                rd = tm.get("Shuffle Read Metrics", {})
                m.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                m.shuffle_write_bytes += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                m.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                m.executor_run_ms += tm.get("Executor Run Time", 0)
                m.executor_cpu_ns += tm.get("Executor CPU Time", 0)
                m.gc_ms += tm.get("JVM GC Time", 0)
    return jobs


def busy_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in seconds."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0
