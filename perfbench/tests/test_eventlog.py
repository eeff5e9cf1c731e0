"""The event-log parser on a tiny recorded log (see record_eventlog.py):
1,000 rows in two Parquet files, scanned with a filter under job group
``scan``, then grouped and counted under job group ``shuffle``."""

import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "eventlog_fixture.jsonl")


@pytest.fixture(scope="module")
def counters():
    return eventlog.parse(FIXTURE)


def test_work_outside_a_job_group_is_not_attributed(counters):
    # the write that made the two files ran with no job group
    assert sorted(counters) == ["scan", "shuffle"]


def test_scan_group_counts_files_rows_and_tasks(counters):
    scan = counters["scan"]
    assert (scan.jobs, scan.stages, scan.tasks) == (2, 2, 3)
    assert (scan.files_read, scan.scan_rows) == (2, 1000)
    assert scan.input_bytes == 4811
    assert scan.shuffle_write_bytes == scan.shuffle_read_bytes == 0
    assert 0 < scan.cpu_s < 10


def test_shuffle_group_counts_both_sides_of_the_exchange(counters):
    shuffle = counters["shuffle"]
    assert (shuffle.jobs, shuffle.stages, shuffle.tasks) == (3, 3, 4)
    assert shuffle.shuffle_write_bytes == shuffle.shuffle_read_bytes == 364
    assert shuffle.spill_bytes == 0


def test_total_sums_groups_and_skips_absent_ones(counters):
    both = eventlog.total(counters, ["scan", "shuffle", "absent"])
    assert both.tasks == 7
    assert both.files_read == 4
    assert eventlog.total(counters, []) == eventlog.Counters()
