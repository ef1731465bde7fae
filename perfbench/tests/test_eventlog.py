"""The event-log parser on a log recorded from a two-job query
(``record_eventlog.py``): a pandas UDF over 20,000 rows in 4 partitions
feeding a grouped count, under job group ``q/action``."""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_2job.jsonl")


@pytest.fixture(scope="module")
def stages():
    return eventlog.parse(LOG)


def test_stages_and_job_groups(stages):
    # job 0 runs stage 0 (map side); job 1 lists stages 1 and 2 but
    # reuses stage 0's shuffle, so stage 1 is skipped and never completes
    assert [s.stage_id for s in stages] == [0, 2]
    assert {s.job_group for s in stages} == {"q/action"}
    assert all(s.completed > s.submitted for s in stages)


def test_task_metrics(stages):
    t = eventlog.totals(stages)
    assert t["stages"] == 2
    assert t["tasks"] == 5
    assert t["run_s"] == pytest.approx(21.539 + 0.385)
    assert t["cpu_s"] == pytest.approx((1_562_480_575 + 168_687_150) / 1e9)
    assert t["gc_s"] == pytest.approx(0.398)
    assert t["input_rows"] == 20_000
    assert t["spill_bytes"] == 0
    # every byte the map side wrote is read back by the reduce side
    assert t["shuffle_write_bytes"] == t["shuffle_read_bytes"] == 928


def test_python_boundary(stages):
    t = eventlog.totals(stages)
    assert t["python_sent_bytes"] == 163_104
    assert t["python_returned_bytes"] == 160_576
    # the pandas UDF node returns one row per input row
    assert t["python_rows"] == 20_000
    assert stages[1].metrics["python_rows"] == 0
