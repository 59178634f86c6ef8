"""The event-log parser on a small captured log: a 4-partition groupBy under
job group ``shuffle#0``, a 3-partition parquet write of 1,000 rows under
``write#1``, and one count outside any group (Spark 4.1, uncompressed;
job-start events trimmed to the fields the parser reads)."""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    return eventlog.parse_file(LOG)


def test_jobs_land_in_their_groups(groups):
    assert set(groups) == {"shuffle#0", "write#1", ""}
    assert groups["shuffle#0"].jobs >= 1
    assert groups["write#1"].jobs >= 1
    assert groups[""].jobs >= 1


def test_shuffle_counters(groups):
    g = groups["shuffle#0"]
    assert g.shuffle_write_bytes > 0 and g.shuffle_read_bytes > 0
    assert g.shuffle_bytes == g.shuffle_write_bytes + g.shuffle_read_bytes
    assert g.run_ms > 0 and g.cpu_ns > 0
    assert g.records_out == 0


def test_output_counters_and_skew(groups):
    w = groups["write#1"]
    assert w.records_out == 1000 and w.bytes_out > 0
    assert w.shuffle_bytes == 0
    assert len(w.stage_tasks[max(w.stage_records_out, key=w.stage_records_out.get)]) == 3
    assert eventlog.task_skew(w) >= 1.0
    assert eventlog.task_skew(groups["shuffle#0"]) == 0.0  # wrote no output


def test_group_run_time_is_the_sum_of_its_tasks(groups):
    for g in groups.values():
        assert g.run_ms == sum(sum(t) for t in g.stage_tasks.values())
