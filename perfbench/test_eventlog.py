"""The event-log parser against a tiny committed rolling log.

    python3 -m pytest perfbench/test_eventlog.py
"""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")


def test_rolling_files_are_read_in_order():
    kinds = [e["Event"] for e in eventlog.read_events(LOG)]
    assert kinds[0] == "SparkListenerLogStart"
    assert kinds.count("SparkListenerStageCompleted") == 3
    assert kinds[-1] == "SparkListenerStageCompleted"


def test_stage_metrics_fold_onto_the_job_group():
    t = eventlog.label_totals(eventlog.read_events(LOG))
    assert set(t) == {"cold:sinks", eventlog.UNLABELLED}
    s = t["cold:sinks"]
    assert (s.stages, s.tasks) == (2, 4)
    assert s.executor_run_s == pytest.approx(5.5)
    assert s.executor_cpu_s == pytest.approx(2.1)
    assert s.gc_s == pytest.approx(0.25)
    assert (s.shuffle_write_bytes, s.spill_bytes) == (1024, 30)
    assert (s.python_start_s, s.python_run_s, s.python_tasks) == (1.5, 4.0, 3)
    # task times 300, 100, 100 ms in the Python stage
    assert s.task_skew == pytest.approx(3.0)
    assert s.broadcast_bytes == 4096
    u = t[eventlog.UNLABELLED]
    assert (u.stages, u.tasks, u.python_tasks, u.task_skew) == (1, 2, 0, 1.0)


def test_one_application_under_a_parent_directory_or_a_file():
    app = os.path.join(LOG, "eventlog_v2_local-1")
    assert list(eventlog.read_events(app)) == list(eventlog.read_events(LOG))
    one = list(eventlog.read_events(os.path.join(app, "events_1_local-1")))
    assert len(one) == 5
