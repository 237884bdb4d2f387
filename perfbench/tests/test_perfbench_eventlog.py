"""The event-log parser, pinned on a checked-in fragment.

The fragment is a trimmed Spark 4 event log of three actions: a grouped
aggregation under job group ``g1`` (2 jobs, 2 stages, 3 tasks), a
``mapInPandas`` noop write under ``g2`` (1 job, 1 stage, 2 tasks) and an
ungrouped ``count`` (2 jobs, 2 stages, 3 tasks).
"""

import os

import pytest

from perfbench.eventlog import event_files, group_stats, merge, read_events

FRAGMENT = os.path.join(os.path.dirname(__file__), "data", "events_1_local-fixture")


@pytest.fixture(scope="module")
def stats():
    return group_stats(read_events(FRAGMENT))


def test_counts_per_group(stats):
    assert set(stats) == {"g1", "g2", None}
    assert (stats["g1"].jobs, stats["g1"].stages, stats["g1"].tasks) == (2, 2, 3)
    assert (stats["g2"].jobs, stats["g2"].stages, stats["g2"].tasks) == (1, 1, 2)
    assert (stats[None].jobs, stats[None].stages, stats[None].tasks) == (2, 2, 3)


def test_task_metrics(stats):
    assert stats["g1"].executor_run_s == pytest.approx(0.556)
    assert stats["g2"].executor_run_s == pytest.approx(4.251)
    assert stats["g1"].shuffle_write_bytes == 874
    assert stats[None].shuffle_write_bytes == 118
    # only the g2 stage runs a Python operator (MapInPandas)
    assert stats["g2"].python_stage_s == pytest.approx(4.251)
    assert stats["g1"].python_stage_s == 0
    for st in stats.values():
        assert st.failed_jobs == 0
        assert st.task_wait_s >= 0
        assert len(st.job_intervals) == st.jobs
        assert all(b >= a for a, b in st.job_intervals)


def test_merge_and_missing_groups(stats):
    both = merge(stats, ["g1", "g2", "absent"])
    assert (both.jobs, both.stages, both.tasks) == (3, 3, 5)
    assert merge(stats, []).jobs == 0


def test_rolling_dir_and_torn_line(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = open(FRAGMENT).read().splitlines()
    half = len(lines) // 2
    (app / "events_2_local-1").write_text("\n".join(lines[half:]) + "\n{\"Event\": ")
    (app / "events_1_local-1").write_text("\n".join(lines[:half]) + "\n")
    (app / "appstatus_local-1").write_text("")
    assert [os.path.basename(f) for f in event_files(str(app))] == [
        "events_1_local-1", "events_2_local-1",
    ]
    again = group_stats(read_events(str(tmp_path)))
    assert {g: s.tasks for g, s in again.items()} == {"g1": 3, "g2": 2, None: 3}
