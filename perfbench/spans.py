"""Span recorder and Spark event-log fold for traced benchmark runs.

A span wraps one call the benchmark makes into an engine layer.  Each span
runs under its own Spark job group, so the status tracker attributes jobs,
stages and tasks to it, and the event log (uncompressed, non-rolling)
folds executor time, CPU, GC, shuffle bytes and input records per group.
Spans stay in memory; :meth:`Tracer.dump` writes them out at the end.

The untraced run uses :class:`NullTracer`, whose spans only keep the
wall-clock bookkeeping the workloads need for their end-to-end figures.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    group: str = ""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    rows: int = 0  # rows the call returned, where that is meaningful
    metrics: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """No job groups, no counts: spans are plain timers."""

    def __init__(self):
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        s = Span(name, time.perf_counter(), request=request)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.spans.append(s)


class Tracer(NullTracer):
    """Spans with Spark accounting.  Nesting follows the ``with`` blocks;
    a child's jobs belong to the child's group, not the parent's."""

    def __init__(self, spark):
        super().__init__()
        self._sc = spark.sparkContext
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent in the tracer itself

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        s = Span(name, 0.0, parent=parent, request=request, group=f"span-{idx}")
        self.spans.append(s)
        self._stack.append(idx)
        self._sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._count(s)
            self.bookkeeping_s += time.perf_counter() - s.end

    def _count(self, s: Span) -> None:
        st = self._sc.statusTracker()
        job_ids = st.getJobIdsForGroup(s.group)
        s.jobs = len(job_ids)
        stage_ids = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            # a stage listed by a job but skipped (its shuffle output was
            # reused) never runs a task; only stages that ran count
            ran = 0 if info is None else info.numCompletedTasks + info.numFailedTasks
            if ran:
                s.stages += 1
                s.tasks += ran

    def self_seconds(self, idx: int) -> float:
        """Duration minus the part of it that child spans cover."""
        s = self.spans[idx]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == idx)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.seconds - covered

    def fold_event_log(self, log_dir: str) -> None:
        """Attach the event log's per-group task metrics to each span."""
        per_group = fold_event_log(log_dir)
        for s in self.spans:
            s.metrics = per_group.get(s.group, dict(EMPTY_FOLD))

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = []
        for i, s in enumerate(self.spans):
            d = asdict(s)
            d["start"], d["end"] = s.start - t0, s.end - t0
            d["self_s"] = self.self_seconds(i)
            rows.append(d)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({**extra, "spans": rows}, fh, indent=1)


EMPTY_FOLD = {
    "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_read_bytes": 0,
    "shuffle_write_bytes": 0, "records_read": 0, "tasks": 0,
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark 4 writes a zstd-compressed rolling directory by default; the
    fold reads one plain JSON-lines file."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
    }


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """{job group: summed task metrics} over every event log in ``log_dir``
    (one per application; read after the SparkContext has stopped)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    acc = out.setdefault(group, dict(EMPTY_FOLD))
                    sr = tm.get("Shuffle Read Metrics", {})
                    acc["run_ms"] += tm.get("Executor Run Time", 0)
                    acc["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    acc["gc_ms"] += tm.get("JVM GC Time", 0)
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    acc["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    acc["records_read"] += tm.get("Input Metrics", {}).get("Records Read", 0)
                    acc["tasks"] += 1
    return out
