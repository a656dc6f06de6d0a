"""The event-log reducer on a small hand-written log."""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.json")


@pytest.fixture(scope="module")
def counters():
    spans = {"p0:a": (0.9, 3.0), "p0:b": (3.9, 4.2)}
    return eventlog.reduce_events(eventlog.read_events(LOG), spans)


def test_ungrouped_jobs_are_ignored(counters):
    assert set(counters) == {"p0:a", "p0:b"}


def test_counts(counters):
    a = counters["p0:a"]
    assert (a["jobs"], a["stages"], a["tasks"], a["failed_tasks"]) == (2, 3, 7, 1)
    b = counters["p0:b"]
    assert (b["jobs"], b["stages"], b["tasks"], b["failed_tasks"]) == (1, 1, 1, 0)


def test_task_metric_sums(counters):
    a = counters["p0:a"]
    assert a["executor_run_s"] == pytest.approx(1.18)
    assert a["scheduler_delay_s"] == pytest.approx(0.11)
    assert a["gc_s"] == pytest.approx(0.01)
    assert a["shuffle_write_bytes"] == 4000
    assert a["shuffle_records_written"] == 40
    assert a["shuffle_read_bytes"] == 1000
    assert a["spill_bytes"] == 400
    assert a["input_bytes"] == 12000


def test_skew_is_taken_in_the_slowest_stage(counters):
    assert counters["p0:a"]["task_skew"] == pytest.approx(6.0)
    assert counters["p0:b"]["task_skew"] == pytest.approx(1.0)


def test_driver_gap_is_span_time_outside_jobs(counters):
    assert counters["p0:a"]["driver_gap_s"] == pytest.approx(2.1 - 1.0)
    assert counters["p0:b"]["driver_gap_s"] == pytest.approx(0.3 - 0.05)


def test_covered_merges_overlapping_intervals():
    assert eventlog._covered([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(4)
    assert eventlog._covered([(1, 3)], 2, 2.5) == pytest.approx(0.5)
