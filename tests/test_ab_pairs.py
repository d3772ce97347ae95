"""scripts/ab_pairs.py's no-regression verdict, fed synthetic pairs (pure
Python: the script is loaded by path and no benchmark process or Spark
session starts)."""

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "scripts", "ab_pairs.py")
_spec = importlib.util.spec_from_file_location("ab_pairs", _PATH)
ab_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab_pairs)

LOWER = {"name": "call_s", "better": "lower", "bound": 0.25}
HIGHER = {"name": "docs_per_s", "better": "higher", "bound": 0.25}


def _pairs(name, parent, change):
    return [{"parent": {"metrics": {name: {"value": a}}},
             "change": {"metrics": {name: {"value": b}}}}
            for a, b in zip(parent, change)]


def _summary(metric, parent, change):
    return ab_pairs.summarize(_pairs(metric["name"], parent, change),
                              [metric])[metric["name"]]


def test_ok_within_bound():
    parent = [5.0, 5.1, 5.2, 4.9, 5.0, 5.3, 5.1, 4.8]
    change = [x * 1.05 for x in parent]  # 5 % slower, bound 25 %
    r = _summary(LOWER, parent, change)
    assert r["verdict"] == "ok"
    assert 0.04 < r["worse_by"] < 0.06
    assert r["parent_spread"] < LOWER["bound"]
    assert r["bound"] == LOWER["bound"]


def test_ok_when_change_is_better():
    parent = [100.0, 102.0, 98.0, 101.0, 99.0, 100.0]
    change = [130.0, 131.0, 129.0, 132.0, 128.0, 130.0]
    r = _summary(HIGHER, parent, change)
    assert r["verdict"] == "ok"
    assert r["worse_by"] < 0


def test_worse_beyond_bound():
    parent = [5.0, 5.1, 5.2, 4.9, 5.0, 5.3, 5.1, 4.8]
    change = [x * 1.4 for x in parent]  # 40 % slower
    r = _summary(LOWER, parent, change)
    assert r["verdict"] == "worse"
    assert abs(r["worse_by"] - 0.4) < 1e-9


def test_worse_in_the_higher_is_better_direction():
    parent = [100.0, 102.0, 98.0, 101.0, 99.0, 100.0]
    change = [60.0, 61.0, 59.0, 62.0, 58.0, 60.0]
    r = _summary(HIGHER, parent, change)
    assert r["verdict"] == "worse"
    assert abs(r["worse_by"] - 0.4) < 1e-9


def test_unresolved_when_parent_spread_exceeds_bound():
    parent = [3.0, 7.0, 4.0, 6.0, 3.5, 6.5, 5.0, 5.0]  # IQR/median > 0.25
    change = [3.1, 7.1, 4.1, 6.1, 3.6, 6.6, 5.1, 5.1]
    r = _summary(LOWER, parent, change)
    assert r["parent_spread"] > LOWER["bound"]
    assert r["verdict"] == "unresolved"


def test_wide_parent_spread_resolved_when_every_change_run_wins():
    parent = [3.0, 7.0, 4.0, 6.0, 3.5, 6.5, 5.0, 5.0]
    change = [2.0, 2.5, 2.2, 2.9, 2.1, 2.4, 2.3, 2.6]  # all below min(parent)
    r = _summary(LOWER, parent, change)
    assert r["parent_spread"] > LOWER["bound"]
    assert r["verdict"] == "ok"


def test_missing_metric_reads_none():
    pairs = [{"parent": {"metrics": {}}, "change": {"metrics": {}}}]
    assert ab_pairs.summarize(pairs, [LOWER]) == {"call_s": None}
