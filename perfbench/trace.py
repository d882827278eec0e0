"""Tracing for the traced run: spans recorded around calls into the
engine's layers, Spark job/stage/task counts per op from the status
tracker, and per-stage task metrics read back from the event log.

Nothing here runs in an untraced run, whose numbers are the end-to-end
metrics.
"""

from __future__ import annotations

import glob
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator


@dataclass
class Span:
    name: str
    op_id: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op_id: str) -> Iterator[Span]:
        s = Span(name, op_id, self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_ms(self, index: int) -> float:
        """Span duration minus the part its direct children cover."""
        children = sum(s.ms for s in self.spans if s.parent == index)
        return self.spans[index].ms - children

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "name": s.name, "op_id": s.op_id, "parent": s.parent,
                        "start": s.start, "end": s.end,
                        "self_ms": self.self_ms(i),
                    }
                    for i, s in enumerate(self.spans)
                ],
                fh,
            )


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks the status tracker saw for a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def cached_mb(spark) -> float:
    """Bytes held by persisted RDD blocks, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def event_log_by_group(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from the event log(s) written to
    ``event_log_dir``: shuffle write, spill, GC, executor CPU, input
    bytes and failed tasks.  Read after the SparkContext has stopped."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(f"{event_log_dir}/*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", ()):
                            stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    agg = out[group]
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        agg["tasks_failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    agg["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    agg["gc_ms"] += m.get("JVM GC Time", 0)
                    agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    agg["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
    return out
