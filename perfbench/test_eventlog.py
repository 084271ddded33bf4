"""Unit tests of the event-log reader on a small committed log.

The fixture is an uncompressed Spark 4.1 event log, trimmed to the
events the reader uses: three jobs in two job groups (``g:a`` is a
shuffle aggregation whose second job skips the reused map stage,
``g:b`` one collect) and their four tasks.

Run from the repository root: python3 -m pytest perfbench/test_eventlog.py
"""

from __future__ import annotations

import os
import shutil

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.json")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(FIXTURE)


def test_directory_holding_the_log(tmp_path):
    shutil.copy(FIXTURE, tmp_path / "local-1")
    (tmp_path / ".local-1.crc").write_text("")
    assert sorted(eventlog.parse(str(tmp_path)).jobs) == [0, 1, 2]


def test_jobs_and_groups(log):
    assert sorted(log.jobs) == [0, 1, 2]
    assert [j.group for j in (log.jobs[0], log.jobs[1], log.jobs[2])] == ["g:a", "g:a", "g:b"]
    assert log.jobs[1].stage_ids == [1, 2]
    assert (log.jobs[2].submit_ms, log.jobs[2].end_ms) == (1792205719932, 1792205720012)


def test_group_totals_count_only_stages_that_ran(log):
    s = eventlog.summarize(log, eventlog.jobs_in_groups(log, ["g:a"]))
    # stage 1 is listed by job 1 but skipped (its shuffle output is reused)
    assert (s["jobs"], s["stages"], s["tasks"]) == (2, 2, 3)
    assert s["task_run_s"] == pytest.approx(0.656)
    assert s["task_cpu_s"] == pytest.approx(0.369856357)
    assert s["gc_s"] == pytest.approx(0.049)
    assert s["deser_s"] == pytest.approx(0.175)
    assert s["shuffle_write_bytes"] == 266
    assert s["shuffle_read_bytes"] == 266
    assert s["spill_bytes"] == 0
    assert s["busy_s"] == pytest.approx(0.633 + 0.214, abs=1e-6)


def test_driver_gap_is_wall_minus_job_union(log):
    jobs = list(log.jobs.values())
    s = eventlog.summarize(log, jobs)
    wall = (1792205720012 - 1792205718804) / 1000.0
    assert s["busy_s"] == pytest.approx(0.633 + 0.214 + 0.080, abs=1e-6)
    assert wall - s["busy_s"] == pytest.approx(0.281, abs=1e-6)


def test_jobs_in_window_uses_submission_time(log):
    ids = [j.job_id for j in eventlog.jobs_in_window(log, 1792205719.5, 1792205719.95)]
    assert sorted(ids) == [1, 2]


def test_union_merges_overlaps_and_gaps():
    assert eventlog.union_s([]) == 0.0
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)

