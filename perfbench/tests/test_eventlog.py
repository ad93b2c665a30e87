"""Tests for the benchmark's event-log parser and span bookkeeping.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import eventlog  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

FIXTURE = os.path.join(HERE, "eventlog_tiny.jsonl")


def _rows(fallback=None):
    return eventlog.parse(eventlog.read_events(FIXTURE), fallback=fallback)


def test_labeled_job_collects_task_and_sql_metrics():
    r = _rows()["i1:q"]
    assert (r.jobs, r.unlabeled_jobs, r.tasks) == (1, 0, 2)
    assert r.executor_run_s == pytest.approx(0.95)
    assert r.python_worker_s == pytest.approx(0.7)
    assert (r.bytes_to_python, r.bytes_from_python) == (2048, 4096)
    assert (r.shuffle_read_bytes, r.shuffle_write_bytes) == (24, 200)
    assert (r.spill_memory_bytes, r.spill_disk_bytes) == (64, 32)
    assert r.peak_execution_memory == 1000
    # driver-side SQL metric updates count too; names lose Spark's padding
    assert r.operator_rows == {"MapInPandas": 30, "Scan parquet": 20}
    assert r.task_intervals == [(1000.1, 1000.6), (1000.3, 1000.9)]


def test_unlabeled_jobs_without_fallback_share_the_empty_label():
    rows = _rows()
    assert set(rows) == {"i1:q", ""}
    assert (rows[""].jobs, rows[""].unlabeled_jobs) == (2, 2)
    assert rows[""].executor_run_s == pytest.approx(0.3)


def test_fallback_attributes_unlabeled_jobs_by_submission_time():
    rows = _rows(lambda t: "i1:fanout" if 1001.0 <= t <= 1002.0 else None)
    assert (rows["i1:fanout"].jobs, rows["i1:fanout"].unlabeled_jobs) == (1, 1)
    assert rows["i1:fanout"].executor_run_s == pytest.approx(0.2)
    assert (rows[""].jobs, rows["i1:q"].unlabeled_jobs) == (1, 0)


def test_uncovered_time_is_span_minus_task_union():
    intervals = [(1000.1, 1000.6), (1000.3, 1000.9), (999.0, 999.5)]
    assert eventlog.covered_s(intervals, 1000.0, 1001.0) == pytest.approx(0.8)
    assert eventlog.uncovered_s(intervals, 1000.0, 1001.0) == pytest.approx(0.2)
    assert eventlog.uncovered_s([], 5.0, 7.0) == pytest.approx(2.0)


class _FakeContext:
    def __init__(self):
        self.group, self.tags = None, set()

    def setJobGroup(self, group, description):
        self.group = group

    def addJobTag(self, tag):
        self.tags.add(tag)

    def removeJobTag(self, tag):
        self.tags.discard(tag)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


def test_tracer_labels_nest_and_self_time_excludes_children():
    sc = _FakeContext()
    tr = Tracer(sc)
    tr.iteration = 3
    with tr.span("outer"):
        assert sc.group == "i3:outer"
        with tr.span("inner"):
            assert (sc.group, sc.tags) == ("i3:inner", {"i3:inner"})
        assert (sc.group, sc.tags) == ("i3:outer", {"i3:outer"})
    assert (sc.group, sc.tags) == (None, set())
    outer, inner = tr.spans
    assert (outer["parent"], inner["parent"], inner["iteration"]) == (None, 0, 3)
    # fix the clock to check the arithmetic
    outer.update(start=10.0, end=20.0)
    inner.update(start=12.0, end=15.0)
    assert tr.self_time(0) == pytest.approx(7.0)
    assert tr.label_at(13.0) == "i3:inner"
    assert tr.label_at(18.0) == "i3:outer"
    assert tr.label_at(25.0) is None
