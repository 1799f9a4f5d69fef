"""Spark event-log parser with time-window attribution to benchmark spans.

The benchmark wraps each public engine call in a span (name, wall-clock
start and end).  Spark's event log records every job with its submission
and completion time and every task with its metrics.  A job belongs to the
span whose window holds its submission time; this also catches jobs the
engine submits from its own daemon threads, which carry no job group of
the benchmark's.  A task belongs to its stage's job.

Usage: ``python3 perfbench/eventlog.py <event-log-file> <spans.json>
<cores>`` prints one JSON object per span.
"""

from __future__ import annotations

import bisect
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # wall-clock seconds (time.time())
    end: float

    @property
    def secs(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """In-memory spans around the benchmark's calls into the engine."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(name, time.time(), float("nan"))
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.spans.append(sp)

    def to_json(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end}
                for s in self.spans]


@dataclass
class Job:
    job_id: int
    submit: float
    end: float | None = None
    stage_ids: tuple[int, ...] = ()


@dataclass
class SpanStats:
    """Spark work attributed to one span."""

    name: str
    wall_s: float
    jobs: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    bytes_written_mb: float = 0.0
    max_task_s: float = 0.0
    job_busy_s: float = 0.0
    task_failures: int = 0
    _intervals: list[tuple[float, float]] = field(default_factory=list,
                                                  repr=False)

    @property
    def driver_gap_s(self) -> float:
        """Span wall time not covered by any of its jobs."""
        return max(0.0, self.wall_s - self.job_busy_s)

    def core_util(self, cores: int) -> float:
        return self.exec_run_s / (self.wall_s * cores) if self.wall_s else 0.0

    def as_dict(self, cores: int) -> dict:
        out = {k: v for k, v in self.__dict__.items()
               if not k.startswith("_")}
        out["driver_gap_s"] = self.driver_gap_s
        out["core_util"] = self.core_util(cores)
        return out


@dataclass
class EventLog:
    jobs: dict[int, Job]
    tasks: list[dict]  # one per SparkListenerTaskEnd, flattened
    stage_attempts: set[tuple[int, int]]  # (stage id, attempt id)

    @property
    def task_failures(self) -> int:
        return sum(1 for t in self.tasks if t["failed"])

    @property
    def stage_retries(self) -> int:
        """Stage attempts past the first (a fetch failure or lost task set
        makes Spark resubmit a stage)."""
        return sum(1 for (_, attempt) in self.stage_attempts if attempt > 0)


def _task_row(ev: dict) -> dict:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    out = m.get("Output Metrics") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    return {
        "stage": ev["Stage ID"],
        "attempt": ev.get("Stage Attempt ID", 0),
        "launch": info.get("Launch Time", 0) / 1000.0,
        "finish": info.get("Finish Time", 0) / 1000.0,
        "failed": bool(info.get("Failed")) or reason not in (
            "Success", "TaskKilled"),
        "run_s": m.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_b": (sr.get("Remote Bytes Read", 0)
                           + sr.get("Local Bytes Read", 0)),
        "output_b": out.get("Bytes Written", 0),
    }


def parse(lines) -> EventLog:
    """Parse an iterable of event-log JSON lines."""
    jobs: dict[int, Job] = {}
    tasks: list[dict] = []
    stages: set[tuple[int, int]] = set()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = Job(jid, ev["Submission Time"] / 1000.0,
                            stage_ids=tuple(ev.get("Stage IDs", ())))
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages.add((si["Stage ID"], si.get("Stage Attempt ID", 0)))
        elif kind == "SparkListenerTaskEnd":
            tasks.append(_task_row(ev))
    return EventLog(jobs, tasks, stages)


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(log: EventLog, spans: list[Span],
              slack_s: float = 0.002) -> tuple[dict[str, SpanStats],
                                               SpanStats]:
    """Attribute jobs and their tasks to spans by submission time.

    Spans must not overlap.  ``slack_s`` widens each window for the event
    log's millisecond clock.  Returns per-span stats keyed by span name
    (names must be unique) and a stats record for unattributed work."""
    order = sorted(spans, key=lambda s: s.start)
    starts = [s.start - slack_s for s in order]
    stats = {s.name: SpanStats(s.name, s.end - s.start) for s in order}
    other = SpanStats("unattributed", 0.0)
    owner: dict[int, SpanStats] = {}
    for job in log.jobs.values():
        i = bisect.bisect_right(starts, job.submit) - 1
        st = other
        if i >= 0 and job.submit <= order[i].end + slack_s:
            st = stats[order[i].name]
        owner[job.job_id] = st
        st.jobs += 1
        if st is not other:
            span = order[i]
            end = job.end if job.end is not None else span.end
            lo, hi = max(job.submit, span.start), min(end, span.end)
            if hi > lo:
                st._intervals.append((lo, hi))
    # stage → job: the latest-submitted job listing the stage that was
    # submitted before the task launched (a stage skipped by a later job
    # runs no tasks there).
    stage_jobs: dict[int, list[Job]] = {}
    for job in log.jobs.values():
        for sid in job.stage_ids:
            stage_jobs.setdefault(sid, []).append(job)
    for lst in stage_jobs.values():
        lst.sort(key=lambda j: j.submit)
    for t in log.tasks:
        cands = stage_jobs.get(t["stage"], [])
        job = None
        for j in cands:
            if j.submit <= t["launch"] + slack_s:
                job = j
        if job is None and cands:
            job = cands[0]
        st = owner.get(job.job_id, other) if job is not None else other
        st.tasks += 1
        st.exec_run_s += t["run_s"]
        st.exec_cpu_s += t["cpu_s"]
        st.gc_s += t["gc_s"]
        st.shuffle_write_mb += t["shuffle_write_b"] / 1e6
        st.shuffle_read_mb += t["shuffle_read_b"] / 1e6
        st.bytes_written_mb += t["output_b"] / 1e6
        st.max_task_s = max(st.max_task_s, t["finish"] - t["launch"])
        st.task_failures += int(t["failed"])
    for st in stats.values():
        st.job_busy_s = _union_length(st._intervals)
    return stats, other


def main() -> None:
    log = read(sys.argv[1])
    with open(sys.argv[2], encoding="utf-8") as fh:
        spans = [Span(s["name"], s["start"], s["end"]) for s in json.load(fh)]
    stats, other = attribute(log, spans)
    for st in list(stats.values()) + [other]:
        print(json.dumps(st.as_dict(cores=int(sys.argv[3]))))
    print(json.dumps({"task_failures": log.task_failures,
                      "stage_retries": log.stage_retries}))


if __name__ == "__main__":
    main()
