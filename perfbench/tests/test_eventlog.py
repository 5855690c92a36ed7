"""The event-log folder on a checked-in excerpt of a real Spark 4 log:
a grouped broadcast join + aggregate, a grouped parquet scan, and one
job submitted without a group."""

import os

import pytest

from perfbench import eventlog

EXCERPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                       "eventlog_excerpt.jsonl")


@pytest.fixture(scope="module")
def parsed():
    return eventlog.parse(eventlog.read_events(EXCERPT))


def test_jobs_carry_group_execution_and_timing(parsed):
    jobs = parsed["jobs"]
    assert [j["group"] for _, j in sorted(jobs.items())] == [
        "p1.o0.exec", "p1.o0.exec", "p1.o0.exec", "p1.o1.exec", "p1.o1.exec", None]
    assert jobs[3]["execution"] is None          # the reader's schema job
    assert all(j["end_ms"] >= j["submit_ms"] for j in jobs.values())
    assert parsed["stages"][3]["job"] == 2


def test_fold_by_group(parsed):
    g = eventlog.fold_groups(parsed)
    assert set(g) == {"p1.o0.exec", "p1.o1.exec"}   # the groupless job is dropped
    join = g["p1.o0.exec"]
    assert (join["jobs"], join["stages"], join["tasks"]) == (3, 3, 5)  # a skipped stage is no stage
    assert join["executor_run_s"] == pytest.approx(0.79)
    assert join["executor_cpu_s"] == pytest.approx(0.441865894)
    assert join["gc_s"] == pytest.approx(0.04)
    assert join["shuffle_write_mb"] == join["shuffle_read_mb"] == pytest.approx(573 / 2**20)
    assert join["task_skew"] == pytest.approx(200 / 187)
    assert (join["final_bhj"], join["final_smj"], join["task_failures"]) == (1, 0, 0)
    assert join["scan_rows"] == 1100                 # range(1000) + range(100)
    scan = g["p1.o1.exec"]
    assert (scan["jobs"], scan["tasks"], scan["scan_rows"]) == (2, 2, 500)


def test_groupless_jobs_go_where_assign_says(parsed):
    g = eventlog.fold_groups(parsed, assign=lambda j: "late")
    assert g["late"]["jobs"] == 1 and g["late"]["scan_rows"] == 10
    assert g["p1.o0.exec"]["jobs"] == 3
