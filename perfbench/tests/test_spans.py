"""Tests of the benchmark's own logic: event-log parsing, attribution of
stages to spans by time window, the tail-percentile rule and the ranked
comparison the correctness checks use. Run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from checks import mixed_weights, ranked_match  # noqa: E402
from spans import (  # noqa: E402
    EventLog,
    Span,
    Stage,
    attribute,
    parse_event_log,
    self_intervals,
    tail,
)


def _stage_completed(sid, submit_ms, complete_ms, n_tasks, scopes, accums=()):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": sid, "Number of Tasks": n_tasks,
            "Submission Time": submit_ms, "Completion Time": complete_ms,
            "RDD Info": [{"Scope": json.dumps({"id": str(i), "name": s})}
                         for i, s in enumerate(scopes)] + [{"RDD ID": 9}],
            "Accumulables": [{"ID": i, "Name": "x", "Value": str(v)} for i, v in accums],
        },
    }


def _task_end(sid, run_ms, shuffle_bytes=0, mem_spill=0, disk_spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Memory Bytes Spilled": mem_spill, "Disk Bytes Spilled": disk_spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes},
        },
    }


FRAGMENT = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_500,
     "Stage IDs": [0]},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
    _task_end(0, 1500, shuffle_bytes=100),
    _task_end(0, 2500, shuffle_bytes=50, mem_spill=7, disk_spill=3),
    _stage_completed(0, 1_000_600, 1_003_000, 2, ["Exchange", "FlatMapGroupsInPandas"],
                     accums=[(77, 12), (78, 99)]),
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 1,
     "sparkPlanInfo": {"nodeName": "WriteFiles", "metrics": [], "children": [
         {"nodeName": "FlatMapGroupsInPandas",
          "metrics": [{"name": "number of output rows", "accumulatorId": 77}],
          "children": []}]}},
    # a stage Spark skipped has no completion time and is dropped
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 5, "Number of Tasks": 4, "RDD Info": []}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_004_000,
     "Stage IDs": [1]},
    _task_end(1, 400),
    _stage_completed(1, 1_004_100, 1_004_600, 1, ["WholeStageCodegen (1)"]),
]


def test_parse_event_log_fragment():
    log = parse_event_log(json.dumps(e) + "\n" for e in FRAGMENT)
    assert [s.stage_id for s in log.stages] == [0, 1]
    s0 = log.stages[0]
    assert (s0.submit, s0.complete, s0.n_tasks) == (1000.6, 1003.0, 2)
    assert s0.scopes == {"Exchange", "FlatMapGroupsInPandas"}
    assert s0.task_s == pytest.approx(4.0)
    assert s0.max_task_s == pytest.approx(2.5)
    assert s0.shuffle_write_bytes == 150
    assert s0.spill_bytes == 10
    assert log.jobs == [(0, 1000.5), (1, 1004.0)]
    assert log.node_metric(s0, "FlatMapGroupsInPandas", "number of output rows") == 12
    assert log.node_metric(log.stages[1], "FlatMapGroupsInPandas",
                           "number of output rows") == 0


def _stage(sid, submit, complete, n_tasks=1, task_s=0.0):
    return Stage(sid, submit, complete, n_tasks, task_s=task_s)


def test_self_intervals_subtract_direct_children():
    spans = [Span("outer", 0.0, 10.0), Span("a", 2.0, 4.0, parent=0),
             Span("b", 6.0, 7.0, parent=0), Span("a.inner", 2.5, 3.0, parent=1)]
    assert self_intervals(spans, 0) == [[0.0, 2.0], [4.0, 6.0], [7.0, 10.0]]
    assert self_intervals(spans, 1) == [[2.0, 2.5], [3.0, 4.0]]


def test_attribution_by_submission_time_goes_to_innermost_span():
    spans = [Span("outer", 0.0, 10.0), Span("inner", 2.0, 6.0, parent=0)]
    log = EventLog(
        stages=[
            _stage(0, 1.0, 3.0, n_tasks=2, task_s=4.0),   # submitted in outer's self time
            _stage(1, 2.5, 8.0, n_tasks=4, task_s=6.0),   # submitted inside inner
            _stage(2, 11.0, 12.0, n_tasks=1, task_s=1.0),  # outside every span
        ],
        jobs=[(0, 0.9), (1, 2.4), (2, 11.0)],
        plan_metrics={},
    )
    rows = attribute(spans, log, cores=2)
    assert rows["outer"]["tasks"] == 2 and rows["outer"]["jobs"] == 1
    assert rows["inner"]["tasks"] == 4 and rows["inner"]["jobs"] == 1
    assert rows["inner"]["task_s"] == 6.0
    # self wall: outer 10 - 4 covered by inner; stages run over [1, 8]
    assert rows["outer"]["wall_s"] == pytest.approx(6.0)
    assert rows["inner"]["wall_s"] == pytest.approx(4.0)
    # no stage running: outer [0, 1) and [8, 10); inner never idle
    assert rows["outer"]["no_stage_s"] == pytest.approx(3.0)
    assert rows["inner"]["no_stage_s"] == pytest.approx(0.0)
    assert rows["outer"]["busy"] == pytest.approx(4.0 / (6.0 * 2))


def test_same_named_nested_spans_sum_without_double_counting():
    spans = [Span("x", 0.0, 4.0), Span("x", 1.0, 3.0, parent=0)]
    rows = attribute(spans, EventLog([], [], {}), cores=1)
    assert rows["x"]["wall_s"] == pytest.approx(4.0)


@pytest.mark.parametrize("n, expect", [
    (10, None),            # not even the median leaves ten beyond
    (20, 50.0),            # p50 leaves 10, p75 only 5
    (200, 95.0),           # p95 leaves 10, p98 only 4
    (1000, 99.0),          # p99 leaves 10, p99.5 only 5
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expect):
    got = tail([float(i) for i in range(1, n + 1)])
    if expect is None:
        assert got is None
        return
    p, value = got
    assert p == expect
    assert sum(1 for x in range(1, n + 1) if x > value) >= 10


def test_ranked_match_accepts_near_tie_swaps_only():
    want = [(1, 5.0), (2, 4.0), (3, 4.0 + 1e-12), (4, 1.0)]
    assert ranked_match([(1, 5.0), (3, 4.0), (2, 4.0)], want, 3, 1e-9) is None
    assert ranked_match([(1, 5.0), (4, 4.0), (2, 4.0)], want, 3, 1e-9) is not None
    assert ranked_match([(1, 5.0), (2, 4.0)], want, 3, 1e-9) is not None
    assert ranked_match([(1, 5.0), (2, 3.0), (3, 4.0)], want, 3, 1e-9) is not None


def test_mixed_weights_interpolates_original_and_expansion_terms():
    rows = [("q", "a", 1.0, 0), ("q", "b", 1.0, 0), ("q", "x", 0.3, 1),
            ("q", "y", 0.1, 2)]
    w = mixed_weights(rows, orig_weight=0.7)["q"]
    assert w["a"] == pytest.approx(0.35) and w["b"] == pytest.approx(0.35)
    assert w["x"] == pytest.approx(0.225) and w["y"] == pytest.approx(0.075)
