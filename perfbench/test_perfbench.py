"""Tests of the harness's pure parts; no Spark session is started.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import eventlog  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

FIXTURE = os.path.join(HERE, "testdata", "eventlog_stream_call.jsonl")
CALL = "3:s_stream_anomaly"
RUN_ID = "9e6fb6b2-879e-406f-b6e1-834002b96c79"


def _events():
    with open(FIXTURE) as f:
        return [json.loads(line) for line in f]


# ---- event-log fold (recorded log of one traced s_stream_anomaly call:
# its own jobs under the call's job group, its micro-batch under the
# stream's run id; fields the fold does not read were dropped) ----

def test_fold_attributes_stream_work_to_the_call():
    got = eventlog.fold(_events(), {RUN_ID: CALL})
    assert list(got) == [CALL]
    c = got[CALL]
    assert c["exec.jobs"] == 3
    assert c["exec.stages"] == 4
    assert c["exec.tasks"] == 10
    assert c["exec.failed_tasks"] == 0
    assert c["catalyst.sql_executions"] == 4
    assert c["exec.task_run_s"] == pytest.approx(2.793)
    assert c["exec.task_cpu_s"] == pytest.approx(0.224797004)
    assert c["exec.shuffle_read_bytes"] == c["exec.shuffle_write_bytes"] == 266045
    assert c["sources.input_rows"] == 10000
    assert c["python.bytes_returned"] == 66664
    assert c["python.run_s"] == pytest.approx(2.084)
    assert c["streaming.batches"] == 1
    assert c["streaming.add_batch_ms"] == 1038
    assert c["streaming.state_rows"] == 150
    assert c["streaming.state_commit_ms"] == 309


def test_fold_without_the_run_map_keeps_the_stream_apart():
    got = eventlog.fold(_events())
    assert set(got) == {CALL, RUN_ID}
    assert got[CALL]["exec.jobs"] + got[RUN_ID]["exec.jobs"] == 3
    assert got[CALL]["streaming.batches"] == 0
    assert got[RUN_ID]["streaming.batches"] == 1


def test_fold_reports_every_counter_and_zero_for_bypassed_layers():
    c = eventlog.fold(_events(), {RUN_ID: CALL})[CALL]
    assert set(c) == set(eventlog.COUNTERS)
    assert c["sources.output_bytes"] == 0 and c["exec.spill_bytes"] == 0


def test_fold_counts_failed_tasks_and_unattributed_jobs():
    events = _events()
    task = next(e for e in events if e["Event"] == "SparkListenerTaskEnd")
    failed = dict(task, **{"Task End Reason": {"Reason": "ExceptionFailure"}})
    orphan = {"Event": "SparkListenerJobStart", "Job ID": 99,
              "Stage IDs": [], "Properties": {}}
    got = eventlog.fold(events + [failed, orphan], {RUN_ID: CALL})
    assert got[CALL]["exec.failed_tasks"] == 1
    assert got[CALL]["exec.tasks"] == 11
    assert got[eventlog.UNATTRIBUTED]["exec.jobs"] == 1


def test_phases_go_to_the_call_whose_window_holds_their_start():
    windows = {"0:a": (10.0, 12.0), "0:b": (12.5, 20.0)}
    records = [
        (10.5, {"analysis": 5, "optimization": 2, "planning": 1}),
        (13.0, {"analysis": 7, "planning": 3}),
        (30.0, {"analysis": 100}),
    ]
    got = eventlog.assign_phases(records, windows)
    assert got["0:a"] == {"catalyst.analysis_ms": 5,
                          "catalyst.optimization_ms": 2,
                          "catalyst.planning_ms": 1}
    assert got["0:b"]["catalyst.analysis_ms"] == 7
    assert got[eventlog.UNATTRIBUTED]["catalyst.analysis_ms"] == 100


# ---- the tail-percentile rule ----

def test_tail_is_p90_from_100_samples():
    value, level, n = stats.tail([float(i) for i in range(1, 101)])
    assert (value, level, n) == (90.0, 0.9, 100)


def test_tail_keeps_ten_samples_above_below_100():
    samples = [float(i) for i in range(1, 21)]
    random.Random(0).shuffle(samples)
    value, level, n = stats.tail(samples)
    assert (value, level, n) == (10.0, 0.5, 20)
    assert sum(s > value for s in samples) == 10


def test_tail_of_few_samples_is_the_smallest():
    assert stats.tail([3.0, 1.0, 2.0]) == (1.0, 1 / 3, 3)
    with pytest.raises(ValueError):
        stats.tail([])


# ---- failure counting ----

def test_tally_counts_failures_and_reasons():
    t = stats.Tally()
    assert t.error_rate == 0.0
    assert t.record("q1", None)
    assert not t.record("q2", "3 rows, oracle has 4")
    t.record("q1", None)
    assert (t.attempted, t.failed) == (3, 1)
    assert t.error_rate == pytest.approx(1 / 3)
    assert t.reasons == ["q2: 3 rows, oracle has 4"]


def test_self_time_subtracts_direct_children():
    spans = [
        ("registry.call", 0.0, 10.0, None, "0:q"),
        ("gmm.gmm_fit_hist", 1.0, 7.0, 0, "0:q"),
        ("gmm.value_histogram", 2.0, 4.0, 1, "0:q"),
        ("registry.force", 10.0, 11.0, None, "0:q"),
    ]
    assert stats.self_times(spans) == [4.0, 4.0, 2.0, 1.0]


# ---- seeds ----

def test_seed_fixes_the_pass_order():
    names = [f"q{i}" for i in range(8)]

    def orders(seed):
        gen = workloads.pass_orders(names, seed)
        return [next(gen) for _ in range(3)]

    assert orders(7) == orders(7)
    assert orders(7) != orders(8)
    assert all(sorted(o) == names for o in orders(7))
    assert len({tuple(o) for o in orders(7)}) > 1  # passes differ


def test_seed_relabels_the_chain_graph_and_keeps_ground_truth():
    assert workloads._cc_relabel(3) == workloads._cc_relabel(3)
    assert workloads._cc_relabel(3) != workloads._cc_relabel(4)
    a, b = workloads._cc_relabel(3)
    group, n = workloads.CC_GROUP, 30
    parent = {}

    def find(v):
        while parent.get(v, v) != v:
            v = parent[v]
        return v

    for i in range(n):  # the chain_edges graph, relabelled
        if (i + 1) % group:
            x, y = find(a * i + b), find(a * (i + 1) + b)
            parent[max(x, y)] = min(x, y)
    for i in range(n):
        v = a * i + b
        orig = (v - b) // a
        assert find(v) == (orig - orig % group) * a + b


def _digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_data_seed_fixes_the_generated_tables(tmp_path):
    one = datagen.generate(str(tmp_path / "a"), 0.0005, 42)
    datagen.generate(str(tmp_path / "b"), 0.0005, 42)
    datagen.generate(str(tmp_path / "c"), 0.0005, 43)
    assert one["lineitem"] == 3000 and one["documents"] == 500
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_generated_measures_are_two_decimal_fixed_point(tmp_path):
    import pyarrow.parquet as pq

    datagen.generate(str(tmp_path), 0.0005, 42)
    for table, cols in {
        "lineitem": ("l_extendedprice", "l_discount", "l_tax"),
        "orders": ("o_totalprice",),
        "events": ("value",),
    }.items():
        t = pq.read_table(tmp_path / f"{table}.parquet")
        assert pq.ParquetFile(tmp_path / f"{table}.parquet").num_row_groups == 1
        for c in cols:
            for v in t.column(c).to_pylist():
                assert round(v, 2) == v
