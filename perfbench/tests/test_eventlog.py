"""The event-log parser and the stage attribution, on a tiny log Spark
recorded for two job groups: g1 runs a mapInPandas and a shuffle read
(job 1 skips one of its two stages), g2 runs a count."""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")


def test_parse_jobs_and_completed_stages():
    jobs = eventlog.read(LOG)
    assert [j.job_id for j in jobs] == [0, 1, 2, 3]
    assert [j.group for j in jobs] == ["g1", "g1", "g2", "g2"]
    assert [[s.stage_id for s in j.stages] for j in jobs] == [[0], [2], [3], [5]]
    assert jobs[0].site == "collect at tiny_job.py:11"
    assert jobs[0].stages[0].tasks == 2
    assert jobs[0].end_ms == 1792252059988


def test_call_profile_sums_and_python_metrics():
    jobs = eventlog.read(LOG)
    calls = [eventlog.Call("one", "g1", 1792252057300, 1792252060400),
             eventlog.Call("two", "g2", 1792252060500, 1792252060800)]
    by_group = eventlog.assign(jobs, calls)
    one = eventlog.call_profile(calls[0], by_group["g1"])
    assert one["jobs"] == 2 and one["stages"] == 2 and one["tasks"] == 3
    assert one["stage_s"] == pytest.approx((2655 + 170) / 1000)
    assert one["stage_s"] + one["driver_gap_s"] == pytest.approx(one["wall_s"])
    assert sum(one["by_site"].values()) == pytest.approx(one["stage_s"])
    assert one["py_bytes_sent"] == 8608 and one["py_bytes_returned"] == 8352
    assert one["python_s"] == pytest.approx(3.772)
    assert one["shuffle_write_bytes"] == 364 and one["shuffle_read_bytes"] == 364
    two = eventlog.call_profile(calls[1], by_group["g2"])
    assert two["jobs"] == 2 and two["py_bytes_sent"] == 0


def test_jobs_outside_any_group_fall_to_the_enclosing_call():
    jobs = eventlog.read(LOG)
    for j in jobs:
        j.group = "stream-run-id"
    calls = [eventlog.Call("a", "x", 1792252057000, 1792252060400),
             eventlog.Call("b", "y", 1792252060500, 1792252060800)]
    by_group = eventlog.assign(jobs, calls)
    assert [j.job_id for j in by_group["x"]] == [0, 1]
    assert [j.job_id for j in by_group["y"]] == [2, 3]


def test_union_and_split():
    assert eventlog.union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    shares = eventlog.split_by_label([("a", 0, 10), ("b", 5, 15)])
    assert shares == {"a": 7.5, "b": 7.5}
