"""Event-log parser and span attribution.

Run: ``python3 -m pytest perfbench/tests -q``.  The recorded log comes from
``record_short_run.py`` (a two-step ``tiny`` crawl plus a checkpoint).
"""

from __future__ import annotations

import gzip
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from eventlog import Span  # noqa: E402

DATA = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def recorded():
    with gzip.open(os.path.join(DATA, "short_run.eventlog.gz"), "rt",
                   encoding="utf-8") as fh:
        log = eventlog.parse(fh)
    with open(os.path.join(DATA, "short_run.spans.json"),
              encoding="utf-8") as fh:
        spans = [Span(**s) for s in json.load(fh)]
    return log, spans


def test_recorded_run_attributes_every_job_and_task(recorded):
    log, spans = recorded
    stats, other = eventlog.attribute(log, spans)
    assert [s.name for s in spans] == list(stats)
    assert sum(s.jobs for s in stats.values()) + other.jobs == len(log.jobs)
    assert sum(s.tasks for s in stats.values()) + other.tasks == len(
        log.tasks)
    # Nothing ran between the spans of the recording.
    assert other.jobs == 0 and other.tasks == 0
    for name, st in stats.items():
        assert st.jobs > 0 and st.tasks > 0, name
        assert 0 < st.job_busy_s <= st.wall_s + 1e-9, name
        assert 0 <= st.driver_gap_s <= st.wall_s, name
        assert st.exec_cpu_s <= st.exec_run_s + 1e-9, name
    # Supersteps shuffle; the checkpoint writes the snapshot tables.
    assert stats["superstep.0"].shuffle_write_mb > 0
    assert stats["checkpoint"].bytes_written_mb > 0
    assert log.task_failures == 0 and log.stage_retries == 0


def _lines(*events):
    return [json.dumps(e) for e in events]


def _job_start(jid, t_ms, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t_ms, "Stage IDs": stages}


def _job_end(jid, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid,
            "Completion Time": t_ms, "Job Result": {"Result": "JobSucceeded"}}


def _task_end(stage, launch_ms, finish_ms, run_ms=100, reason="Success",
              attempt=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Stage Attempt ID": attempt,
            "Task Info": {"Launch Time": launch_ms,
                          "Finish Time": finish_ms,
                          "Failed": reason not in ("Success", "TaskKilled"),
                          "Killed": reason == "TaskKilled"},
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": run_ms * 10**6,
                             "JVM GC Time": 1,
                             "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": 2_000_000},
                             "Shuffle Read Metrics":
                                 {"Remote Bytes Read": 0,
                                  "Local Bytes Read": 1_000_000}}}


def test_overlapping_jobs_from_two_threads_count_once_in_busy_time():
    # A span at [10 s, 20 s]: the caller's job and a daemon thread's job
    # overlap in [12 s, 14 s]; the busy time is their union, 5 s.
    log = eventlog.parse(_lines(
        _job_start(0, 11_000, [0]), _job_start(1, 12_000, [1]),
        {"Event": "SparkListenerApplicationStart"},  # ignored kind
        _task_end(0, 11_100, 13_900), _task_end(1, 12_100, 15_900),
        _job_end(0, 14_000), _job_end(1, 16_000)))
    stats, other = eventlog.attribute(log, [Span("step", 10.0, 20.0)])
    st = stats["step"]
    assert (st.jobs, st.tasks, other.jobs) == (2, 2, 0)
    assert st.job_busy_s == pytest.approx(5.0)
    assert st.driver_gap_s == pytest.approx(5.0)
    assert st.exec_run_s == pytest.approx(0.2)
    assert st.max_task_s == pytest.approx(3.8)
    assert st.shuffle_write_mb == pytest.approx(4.0)
    assert st.shuffle_read_mb == pytest.approx(2.0)
    assert st.core_util(4) == pytest.approx(0.2 / 40)


def test_job_outliving_its_span_is_clipped_and_strays_are_unattributed():
    log = eventlog.parse(_lines(
        _job_start(0, 19_000, [0]), _job_end(0, 25_000),
        _job_start(1, 30_000, [1]), _job_end(1, 31_000),
        _task_end(1, 30_100, 30_900)))
    stats, other = eventlog.attribute(
        log, [Span("a", 10.0, 20.0), Span("b", 20.5, 22.0)])
    assert stats["a"].jobs == 1 and stats["a"].job_busy_s == pytest.approx(1)
    assert stats["b"].jobs == 0 and stats["b"].driver_gap_s == 1.5
    assert (other.jobs, other.tasks) == (1, 1)


def test_shared_stage_tasks_go_to_the_job_that_ran_them():
    # Job 1 reuses stage 5 of job 0; a later task of stage 5 belongs to
    # whichever listing job was submitted last before it launched.
    log = eventlog.parse(_lines(
        _job_start(0, 1_000, [5]), _job_end(0, 2_000),
        _job_start(1, 5_000, [5, 6]), _job_end(1, 7_000),
        _task_end(5, 1_100, 1_900), _task_end(5, 5_100, 5_900),
        _task_end(6, 6_000, 6_500)))
    stats, _ = eventlog.attribute(
        log, [Span("first", 0.5, 3.0), Span("second", 4.0, 8.0)])
    assert stats["first"].tasks == 1 and stats["second"].tasks == 2


def test_failed_tasks_and_stage_retries_are_counted():
    log = eventlog.parse(_lines(
        _job_start(0, 1_000, [0]),
        _task_end(0, 1_100, 1_200, reason="ExceptionFailure"),
        _task_end(0, 1_300, 1_400, reason="TaskKilled"),
        _task_end(0, 1_500, 1_600, attempt=1),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0,
                        "Failure Reason": "FetchFailed"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 1}},
        _job_end(0, 2_000)))
    stats, _ = eventlog.attribute(log, [Span("s", 0.5, 3.0)])
    assert log.task_failures == 1 and stats["s"].task_failures == 1
    assert log.stage_retries == 1
