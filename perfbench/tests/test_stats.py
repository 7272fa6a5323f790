"""The benchmark's own rules on synthetic inputs (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
import workloads  # noqa: E402
from stats import Span  # noqa: E402


# -- tail percentile: at least ten samples beyond it ---------------------

def test_tail_percentile_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    p, value, beyond = stats.tail_percentile(values)
    assert (p, value, beyond) == (90, 90.0, 10)


def test_tail_percentile_is_highest_qualifying():
    values = [float(i) for i in range(1, 31)]  # 30 samples
    p, value, beyond = stats.tail_percentile(values)
    # p66 -> rank ceil(19.8) = 20, ten beyond; p67 -> rank 21, nine beyond
    assert (p, value, beyond) == (66, 20.0, 10)
    assert beyond >= stats.MIN_BEYOND


def test_tail_percentile_ignores_input_order():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 6
    assert stats.tail_percentile(values) == stats.tail_percentile(sorted(values))


def test_tail_percentile_too_few_samples_falls_back_to_median():
    p, value, beyond = stats.tail_percentile([3.0, 1.0, 2.0])
    assert (p, value, beyond) == (50, 2.0, 1)
    p, value, beyond = stats.tail_percentile([4.0, 1.0, 3.0, 2.0] * 4)  # 16 samples
    assert (p, value, beyond) == (50, 2.5, 8)
    # 20 samples: ten lie beyond the median's rank, and the tail is still
    # the median as latency_p50_s reports it, not the lower middle sample.
    p, value, beyond = stats.tail_percentile([float(i) for i in range(1, 21)])
    assert (p, value, beyond) == (50, 10.5, 10)


def test_tail_percentile_rejects_empty():
    with pytest.raises(ValueError):
        stats.tail_percentile([])


# -- self time -----------------------------------------------------------

def test_self_time_subtracts_children():
    spans = [
        Span(0, None, "op", 0.0, 10.0, 0),
        Span(1, 0, "build", 0.0, 2.0, 0),
        Span(2, 0, "plan", 2.0, 3.0, 0),
        Span(3, 0, "collect", 3.0, 9.5, 0),
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(0.5)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(6.5)


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span(0, None, "op", 0.0, 10.0, 0),
        Span(1, 0, "a", 1.0, 5.0, 0),
        Span(2, 0, "b", 4.0, 6.0, 0),
        Span(3, 0, "c", 9.0, 12.0, 0),  # runs past its parent: clipped
    ]
    assert stats.self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


# -- attribution of jobs to operations by time window -------------------

def _two_ops():
    return [
        Span(0, None, "op", 10.0, 20.0, 0),
        Span(1, 0, "build", 10.0, 12.0, 0),
        Span(2, 0, "collect", 12.0, 20.0, 0),
        Span(3, None, "op", 20.5, 30.0, 1),
        Span(4, 3, "build", 20.5, 21.0, 1),
        Span(5, 3, "collect", 21.0, 30.0, 1),
    ]


def test_attribution_picks_innermost_containing_span():
    spans = _two_ops()
    owners = stats.attribute([11.0, 15.0, 25.0], spans)
    assert [(s.op_id, s.name) for s in owners] == [(0, "build"), (0, "collect"), (1, "collect")]


def test_attribution_outside_every_op_is_none():
    owners = stats.attribute([5.0, 20.2, 31.0], _two_ops())
    assert owners == [None, None, None]


def test_attribution_boundary_goes_to_the_span_starting_there():
    owners = stats.attribute([12.0], _two_ops())
    assert (owners[0].op_id, owners[0].name) == (0, "collect")


# -- compare verdicts ----------------------------------------------------

def test_verdict_improved_needs_nine_of_ten_and_beyond_iqr():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
    change = [p * 0.8 for p in parent]
    v = stats.verdict(parent, change, "lower", 0.1)
    assert v.verdict == "improved" and v.won == 1.0


def test_verdict_not_improved_when_too_few_pairs_won():
    parent = [10.0] * 10
    change = [9.0] * 8 + [10.0, 11.0]  # 8/10 won, one tie
    v = stats.verdict(parent, change, "lower", 0.25)
    assert v.won == pytest.approx(0.8)
    assert v.verdict == "unchanged"


def test_verdict_worse_beyond_bound():
    parent = [100.0, 101.0, 99.0, 100.5, 99.5, 100.0, 100.2, 99.8, 100.1, 99.9]
    change = [p * 0.8 for p in parent]  # throughput down 20 %
    assert stats.verdict(parent, change, "higher", 0.1).verdict == "worse"


def test_verdict_unresolved_when_spread_exceeds_bound():
    parent = [10.0, 14.0, 8.0, 12.0, 9.0, 13.0, 7.0, 11.0, 10.0, 12.0]
    change = [10.5, 13.0, 8.5, 12.5, 9.5, 12.0, 8.0, 10.5, 11.0, 11.5]
    assert stats.verdict(parent, change, "lower", 0.05).verdict == "unresolved"


def test_verdict_unresolved_with_fewer_than_ten_pairs():
    assert stats.verdict([1.0] * 9, [0.5] * 9, "lower", 0.1).verdict == "unresolved"


def test_verdict_unchanged_within_bound():
    parent = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
    change = [10.1, 10.0, 10.0, 9.9, 10.1, 9.9, 10.1, 10.0, 10.0, 10.1]
    assert stats.verdict(parent, change, "lower", 0.1).verdict == "unchanged"


# -- workloads -----------------------------------------------------------

def test_pass_order_is_a_seeded_permutation():
    ops = workloads.WORKLOADS["olap"].ops
    a = workloads.pass_order(ops, 7, 0)
    assert sorted(a) == sorted(ops)
    assert a == workloads.pass_order(ops, 7, 0)
    assert a != workloads.pass_order(ops, 8, 0) or a != workloads.pass_order(ops, 7, 1)


def test_passes_cover_the_seconds_and_never_fewer_than_two():
    w = workloads.Workload(ops=("a",), pass_s=4.0)
    assert w.passes(1.0) == 2
    assert w.passes(8.0) == 2
    assert w.passes(8.5) == 3


def test_heavy_operations_belong_to_their_workload():
    for w in workloads.WORKLOADS.values():
        assert w.heavy <= set(w.ops)


def test_data_version_follows_the_data_seed():
    import datagen

    assert datagen.version() == datagen.version(datagen.DATA_SEED)
    assert datagen.version(1) != datagen.version(2)


# -- event log parsing ---------------------------------------------------

def test_eventlog_reads_jobs_stages_tasks_and_written_files():
    import json

    import eventlog

    sql = "org.apache.spark.sql.execution.ui."
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 1000},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 7, "Submission Time": 1001}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
         "Task Info": {"Accumulables": [{"Name": eventlog.PY_SENT, "Update": "40"}]},
         "Task Metrics": {"Executor Run Time": 12, "Executor CPU Time": 5_000_000,
                          "Input Metrics": {"Bytes Read": 100, "Records Read": 10},
                          "Shuffle Read Metrics": {"Local Bytes Read": 3, "Remote Bytes Read": 4},
                          "Output Metrics": {"Bytes Written": 9, "Records Written": 2}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 7}},
        {"Event": sql + "SparkListenerSQLExecutionStart", "time": 1002,
         "sparkPlanInfo": {"metrics": [], "children": [
             {"metrics": [{"name": eventlog.FILES_WRITTEN, "accumulatorId": 55}], "children": []}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 1005},
        {"Event": sql + "SparkListenerDriverAccumUpdates", "accumUpdates": [[55, 4], [56, 99]]},
    ]
    log = eventlog.parse_lines(json.dumps(e) for e in events)
    assert [(j.job_id, j.submitted_ms) for j in log.jobs] == [(3, 1000.0)]
    stage = log.stages[7]
    assert stage.submitted_ms == 1001.0 and len(stage.tasks) == 1
    t = stage.tasks[0]
    assert (t.run_ms, t.cpu_ns, t.input_bytes, t.shuffle_read_bytes, t.py_sent) == (12, 5e6, 100, 7, 40)
    assert (t.output_bytes, t.output_rows) == (9, 2)
    assert log.files_written == [(1005.0, 4.0)]
