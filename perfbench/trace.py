"""Spans recorded from the benchmark's side of each layer boundary, and
Spark's own job/stage/task metrics attributed to them.

A span is (name, start, end, parent, run id) plus attributes. When the
tracer is enabled, every span that is given a SparkContext runs its
jobs under a Spark job group named after the span, so
``statusTracker().getJobIdsForGroup`` returns exactly the jobs the call
submitted. Task metrics for those jobs come from Spark's event log,
parsed after the session stops.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, it still times spans (the
    benchmark's own timings come from them) but touches no Spark API."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, sc=None, **attrs):
        s = Span(
            span_id=len(self.spans),
            name=name,
            start=time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s.span_id)
        group = f"{self.run_id}-{s.span_id}"
        traced = self.enabled and sc is not None
        if traced:
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if traced:
                s.attrs["job_ids"] = sorted(int(j) for j in sc.statusTracker().getJobIdsForGroup(group))
                sc.setLocalProperty("spark.jobGroup.id", outer)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write_jsonl(self, path: str) -> None:
        """One JSON line per span, with its self time as ``self_s``."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": self_time(s, self.spans)}) + "\n")


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it covered by its direct
    children (overlapping children are counted once)."""
    kids = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.span_id
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


@dataclass
class StageStats:
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    first_launch_ms: int | None = None
    last_finish_ms: int | None = None
    task_ms: list = field(default_factory=list)

    @property
    def wall_ms(self) -> int:
        if self.first_launch_ms is None:
            return 0
        return self.last_finish_ms - self.first_launch_ms


def parse_event_log(lines) -> tuple[dict[int, list[int]], dict[int, StageStats]]:
    """Spark event-log JSON lines -> (job id -> stage ids, stage id ->
    task totals). Stages a job lists but skips have no tasks and no
    entry in the stage map."""
    jobs: dict[int, list[int]] = {}
    stages: dict[int, StageStats] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[int(ev["Job ID"])] = [int(s) for s in ev["Stage IDs"]]
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(int(ev["Stage ID"]), StageStats())
            info = ev.get("Task Info", {})
            st.tasks += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success" or info.get("Failed"):
                st.failed_tasks += 1
            launch, finish = int(info.get("Launch Time", 0)), int(info.get("Finish Time", 0))
            st.task_ms.append(max(finish - launch, 0))
            st.first_launch_ms = launch if st.first_launch_ms is None else min(st.first_launch_ms, launch)
            st.last_finish_ms = finish if st.last_finish_ms is None else max(st.last_finish_ms, finish)
            m = ev.get("Task Metrics") or {}
            st.run_s += m.get("Executor Run Time", 0) / 1e3
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    return jobs, stages


def spark_metrics(
    job_ids: list[int],
    jobs: dict[int, list[int]],
    stages: dict[int, StageStats],
    wall_s: float,
    cores: int,
) -> dict:
    """Totals over the stages the given jobs ran. ``busy_share`` is
    executor run time over wall x cores; ``task_skew`` is max over
    median task time in the longest stage."""
    stage_ids = sorted({s for j in job_ids for s in jobs.get(j, ()) if s in stages})
    ran = [stages[s] for s in stage_ids]
    run_s = sum(s.run_s for s in ran)
    skew = 1.0
    if ran:
        longest = max(ran, key=lambda s: s.wall_ms)
        med = statistics.median(longest.task_ms)
        skew = max(longest.task_ms) / med if med > 0 else 1.0
    return {
        "wall_s": wall_s,
        "jobs": len(job_ids),
        "stages": len(ran),
        "tasks": sum(s.tasks for s in ran),
        "failed_tasks": sum(s.failed_tasks for s in ran),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(s.cpu_s for s in ran),
        "gc_s": sum(s.gc_s for s in ran),
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in ran) / 2**20,
        "shuffle_read_mb": sum(s.shuffle_read_bytes for s in ran) / 2**20,
        "busy_share": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "task_skew": skew,
    }
