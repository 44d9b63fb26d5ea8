"""Spans kept in memory, and per-job-group totals parsed from Spark's event log.

A :class:`Tracer` records one span per call into a layer: name, start,
end, parent and request id. While a span is open its id is the Spark
job group of the calling thread, so every Spark job is attributed to
the innermost open span. :func:`parse_event_log` reads the JSON-lines
event log Spark writes when ``spark.eventLog.enabled`` is set (no Spark
UI needed) and sums job, stage and task metrics per job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    req: str | None
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.

    ``sc`` is the SparkContext whose job group follows the open span;
    with ``sc=None`` spans are still recorded but jobs are not tagged.
    A disabled tracer records nothing and costs one branch per span.
    """

    def __init__(self, sc=None, enabled: bool = True) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.req: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            req=self.req,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            clear_job_group(self.sc)
        else:
            self.sc.setJobGroup(group_id(s.id), s.name)

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part its child spans cover.
        Children run sequentially inside their parent, so their union
        is their sum."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        return {s.id: s.duration - child[s.id] for s in self.spans}

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as JSON lines."""
        selft = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "req": s.req,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": selft[s.id],
                }) + "\n")


def clear_job_group(sc) -> None:
    """Jobs submitted from this thread after this belong to no group."""
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def group_id(span_id: int) -> str:
    return f"span-{span_id}"


@dataclass
class GroupTotals:
    """Spark work done by the jobs of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_wall_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    def add(self, other: "GroupTotals") -> None:
        for k in (
            "jobs", "stages", "tasks", "job_wall_s", "executor_run_s",
            "executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
            "spill_mb",
        ):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for k, v in other.python.items():
            self.python[k] += v

    def non_executor_s(self, slots: int) -> float:
        """Job wall time not covered by executor run time spread over
        ``slots`` task slots: scheduling, planning and driver work."""
        return self.job_wall_s - self.executor_run_s / slots


#: Python-worker SQL metrics (task accumulables) → metric suffix, scale.
PYTHON_ACCUMS = {
    "data sent to Python workers": ("sent_mb", 1e-6),
    "data returned from Python workers": ("returned_mb", 1e-6),
    "time to start Python workers": ("start_s", 1e-3),
    "time to initialize Python workers": ("init_s", 1e-3),
    "time to run Python workers": ("run_s", 1e-3),
}


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``: plain files and the parts of
    rolling ``eventlog_v2_*`` directories, in write order."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    files += sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    return files


def parse_event_log(paths: list[str]) -> dict[str | None, GroupTotals]:
    """Sum job, stage and task metrics per ``spark.jobGroup.id``.

    A stage belongs to the first job that lists it; later jobs that
    list it again skipped it, so its tasks count once.
    """
    groups: dict[str | None, GroupTotals] = defaultdict(GroupTotals)
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str | None] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[e["Job ID"]] = g
                    job_start[e["Job ID"]] = e["Submission Time"]
                    groups[g].jobs += 1
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    if jid in job_start:
                        groups[job_group[jid]].job_wall_s += (
                            e["Completion Time"] - job_start[jid]
                        ) / 1e3
                elif kind == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    groups[stage_group.get(sid)].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    t = groups[stage_group.get(e["Stage ID"])]
                    t.tasks += 1
                    m = e.get("Task Metrics") or {}
                    t.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                    t.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    t.gc_s += m.get("JVM GC Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics") or {}
                    t.shuffle_read_mb += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    ) / 1e6
                    wr = m.get("Shuffle Write Metrics") or {}
                    t.shuffle_write_mb += wr.get("Shuffle Bytes Written", 0) / 1e6
                    t.spill_mb += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        hit = PYTHON_ACCUMS.get(acc.get("Name"))
                        if hit and acc.get("Update") is not None:
                            t.python[hit[0]] += float(acc["Update"]) * hit[1]
    return dict(groups)
