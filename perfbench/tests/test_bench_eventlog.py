import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


def test_parser_totals_per_group():
    # recorded by record_eventlog.py: group "python" is one mapInPandas job
    # (4 tasks) plus its count (1 task); group "shuffle" one groupBy job
    # (3 map tasks, 2 reduce tasks); one job ran outside any group
    groups = eventlog.parse(LOG)
    assert set(groups) == {"python", "shuffle"}
    py, sh = groups["python"], groups["shuffle"]
    assert (py.jobs, py.stages, py.tasks) == (1, 2, 5)
    assert (sh.jobs, sh.stages, sh.tasks) == (1, 2, 5)
    assert py.python_s == pytest.approx(4.063)
    assert sh.python_s == 0.0
    assert py.executor_run_s == pytest.approx(5.130)
    assert sh.executor_run_s == pytest.approx(0.481)
    assert py.shuffle_write_mb == pytest.approx(236 / 2**20)
    assert sh.shuffle_write_mb == pytest.approx(536 / 2**20)
