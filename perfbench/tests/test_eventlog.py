"""The event-log ledger against a small log recorded from a local[2] run:
job group "7" ran a repartition + mapInArrow count (3 jobs, 5 tasks), group
"8" a groupBy collect (2 jobs, 3 tasks)."""

import os

import pytest

from perfbench.eventlog import event_files, read_events, ledger, task_skew

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    return ledger(read_events([FIXTURE]))


def test_jobs_tasks_and_stages_per_group(groups):
    assert set(groups) == {"7", "8"}
    g7, g8 = groups["7"], groups["8"]
    assert (g7.jobs, g7.tasks, sorted(g7.stages)) == (3, 5, [0, 2, 5])
    assert (g8.jobs, g8.tasks, sorted(g8.stages)) == (2, 3, [6, 8])


def test_times_and_bytes(groups):
    g7 = groups["7"]
    assert g7.executor_run_s == pytest.approx(0.240 + 0.240 + 2.177 + 2.213 + 0.024)
    assert g7.gc_s == pytest.approx(0.064)
    assert g7.executor_cpu_s == pytest.approx(
        (92078215 + 124303424 + 167857413 + 371510730 + 20814317) / 1e9
    )
    assert g7.shuffle_write_bytes == 2638 + 3219 + 59 + 59
    assert groups["8"].shuffle_write_bytes == 266


def test_python_boundary_bytes_come_from_the_map_in_arrow_tasks(groups):
    assert groups["7"].python_bytes_sent == 4032 + 4592
    assert groups["7"].python_bytes_received == 3904 + 4448
    assert groups["8"].python_bytes_sent == 0


def test_task_skew_is_taken_within_the_longest_stage(groups):
    assert groups["7"].task_run_s == {0: [0.240, 0.240], 2: [2.177, 2.213], 5: [0.024]}
    assert task_skew(groups["7"].task_run_s) == pytest.approx(2.213 / ((2.177 + 2.213) / 2))
    assert task_skew({1: [1.0, 3.0, 2.0], 2: [0.1]}) == pytest.approx(1.5)
    assert task_skew({}) == 0.0


def test_rolling_log_directory_parts_are_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    lines = open(FIXTURE).read().splitlines(keepends=True)
    (d / "events_10_app").write_text("".join(lines[10:]))
    (d / "events_2_app").write_text("".join(lines[:10]))
    (d / "appstatus_app").write_text("")
    files = event_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == ["events_2_app", "events_10_app"]
    assert ledger(read_events(files))["7"].tasks == 5
