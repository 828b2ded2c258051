import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.json")


@pytest.fixture
def jobs():
    return eventlog.parse(eventlog.read_events(FIXTURE))


def test_torn_last_line_is_skipped(jobs):
    assert [j.job_id for j in jobs] == [0, 1, 2]


def test_totals_per_job_group(jobs):
    groups = eventlog.by_group(jobs)
    assert set(groups) == {"1|q|build", "1|q|collect"}  # job 2 has no group
    build = groups["1|q|build"]
    assert (build.jobs, build.stages, build.tasks) == (1, 1, 2)
    assert build.run_ms == 200
    assert build.cpu_ms == pytest.approx(160.0)
    assert build.gc_ms == 10
    assert build.shuffle_write_b == 3000
    assert build.shuffle_read_b == 0


def test_reused_stage_runs_no_tasks_in_later_job(jobs):
    collect = eventlog.by_group(jobs)["1|q|collect"]
    # stage 0 is listed again by job 1 but was computed by job 0
    assert (collect.jobs, collect.stages, collect.tasks) == (1, 1, 1)
    assert collect.shuffle_read_b == 3000
    assert collect.spill_b == 5120
    assert collect.gc_ms == 5


def test_totals_per_time_window(jobs):
    windows = {7: (4000, 6000), 8: (0, 1000)}
    per = eventlog.by_window(jobs, windows)
    assert per[7].jobs == 1 and per[7].tasks == 1 and per[7].run_ms == 30
    assert per[8].jobs == 0  # window end is exclusive


def test_work_add():
    a = eventlog.Work(jobs=1, tasks=2, run_ms=5.0)
    a.add(eventlog.Work(jobs=2, tasks=1, run_ms=1.5, spill_b=7))
    assert (a.jobs, a.tasks, a.run_ms, a.spill_b) == (3, 3, 6.5, 7)
