"""Event-log reader and ledger arithmetic, on a small recorded event log
(``data/eventlog_small.jsonl``, re-recorded by ``record_eventlog.py``)."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest

from perfbench import ledger

DATA = Path(__file__).resolve().parent / "data"


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    d = tmp_path_factory.mktemp("log")
    shutil.copy(DATA / "eventlog_small.jsonl", d / "local-1")
    jobs, stages = ledger.index_events(ledger.read_events(str(d)))
    calls = json.loads((DATA / "calls_small.json").read_text())
    return jobs, stages, {c["op"]: c for c in calls}


def test_union_length_merges_overlaps_and_clips():
    assert ledger.union_length([]) == 0.0
    assert ledger.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert ledger.union_length([(0, 10)], 2, 5) == 3.0
    assert ledger.union_length([(0, 1), (4, 5)], 2, 3) == 0.0
    assert ledger.union_length([(1, 2), (1, 2)]) == 1.0


def test_task_skew():
    assert ledger.task_skew([]) == 0.0
    assert ledger.task_skew([1.0, 1.0, 1.0]) == 1.0
    assert ledger.task_skew([1.0, 2.0, 6.0]) == 3.0


def test_jobs_and_stages_carry_their_call_tags(recorded):
    jobs, stages, calls = recorded
    ops = {j["op"] for j in jobs.values()}
    assert ops == {"arrow|0", "plain|0"}
    for j in jobs.values():
        assert j["span"].startswith(j["op"] + "|")
        assert j["end"] >= j["start"]
    assert all(s["span"] is not None for s in stages.values())


def test_python_boundary_metrics_land_on_the_arrow_layer(recorded):
    jobs, stages, calls = recorded
    c = calls["arrow"]
    row = ledger.op_ledger(c["t0"], c["t1"], c["tag"], c["spans"], jobs, stages)
    layer = row["layers"]["identity"]
    # 20k longs cross the boundary each way (Arrow IPC adds framing)
    assert layer["py_sent_bytes"] >= 20_000 * 8
    assert layer["py_recv_bytes"] >= 20_000 * 8
    assert layer["py_run_s"] > 0
    assert layer["shuffle_bytes"] > 0
    assert layer["jobs"] >= 1
    assert layer["task_skew"] >= 1.0
    plain = calls["plain"]
    prow = ledger.op_ledger(plain["t0"], plain["t1"], plain["tag"], plain["spans"], jobs, stages)
    assert prow["layers"]["plain"]["py_sent_bytes"] == 0


def test_op_wall_splits_into_jobs_and_driver_time(recorded):
    jobs, stages, calls = recorded
    for c in calls.values():
        row = ledger.op_ledger(c["t0"], c["t1"], c["tag"], c["spans"], jobs, stages)
        assert row["jobs_s"] + row["driver_s"] == pytest.approx(row["wall_s"])
        assert 0 < row["jobs_s"] <= row["wall_s"]
        for layer in row["layers"].values():
            assert layer["driver_s"] >= -1e-3  # job clocks are whole milliseconds
            assert layer["jobs_s"] <= row["wall_s"] + 1e-3


def _job(op, span, start, end):
    return {"op": op, "span": span, "start": start, "end": end}


def test_nested_span_self_time_excludes_the_child():
    spans = [
        {"layer": "pipeline", "kind": "action", "t0": 0.0, "t1": 10.0, "tag": "o|0|pipeline", "depth": 1},
        {"layer": "checkpoint", "kind": "action", "t0": 6.0, "t1": 8.0, "tag": "o|0|checkpoint", "depth": 2},
    ]
    jobs = {1: _job("o|0", "o|0|pipeline", 1.0, 4.0), 2: _job("o|0", "o|0|checkpoint", 6.5, 7.5)}
    rows = ledger.layer_ledger(spans, jobs, {})
    assert rows["checkpoint"]["driver_s"] == pytest.approx(1.0)
    # 10 s span - 3 s own jobs - 2 s child span
    assert rows["pipeline"]["driver_s"] == pytest.approx(5.0)
    assert rows["pipeline"]["jobs"] == 1 and rows["checkpoint"]["jobs"] == 1


def test_construct_time_counts_construct_spans_only():
    spans = [
        {"layer": "knn", "kind": "construct", "t0": 0.0, "t1": 2.0, "tag": "o|0|knn", "depth": 1},
        {"layer": "knn", "kind": "action", "t0": 2.0, "t1": 3.0, "tag": "o|0|knn", "depth": 1},
    ]
    jobs = {1: _job("o|0", "o|0|knn", 0.5, 1.5), 2: _job("o|0", "o|0|knn", 2.1, 2.9)}
    row = ledger.op_ledger(0.0, 3.5, "o|0", spans, jobs, {})
    assert row["construct_s"] == 2.0
    assert row["layers"]["knn"]["construct_s"] == 2.0
    assert row["layers"]["knn"]["jobs_s"] == pytest.approx(1.8)
    assert row["layers"]["knn"]["driver_s"] == pytest.approx(3.0 - 1.8)
    assert row["driver_s"] == pytest.approx(3.5 - 1.8)


def test_layers_s_leaves_out_time_outside_every_span():
    spans = [
        {"layer": "knn", "kind": "construct", "t0": 1.0, "t1": 2.0, "tag": "o|0|knn", "depth": 1},
        {"layer": "knn", "kind": "action", "t0": 2.0, "t1": 4.0, "tag": "o|0|knn", "depth": 1},
        {"layer": "snap", "kind": "action", "t0": 4.0, "t1": 5.0, "tag": "o|0|snap", "depth": 1},
    ]
    jobs = {1: _job("o|0", "o|0|knn", 2.5, 3.5), 2: _job("o|0", "o|0|snap", 4.0, 4.5)}
    row = ledger.op_ledger(0.0, 6.0, "o|0", spans, jobs, {})
    assert row["jobs_s"] + row["driver_s"] == pytest.approx(6.0)
    # 1 s before the first span and 1 s after the last belong to no layer
    assert ledger.layers_s(row["layers"]) == pytest.approx(4.0)


def test_recorded_layers_account_for_the_spans(recorded):
    jobs, stages, calls = recorded
    for c in calls.values():
        row = ledger.op_ledger(c["t0"], c["t1"], c["tag"], c["spans"], jobs, stages)
        spans = sum(sp["t1"] - sp["t0"] for sp in c["spans"])
        assert ledger.layers_s(row["layers"]) == pytest.approx(spans, abs=5e-3)
        assert ledger.layers_s(row["layers"]) <= row["wall_s"] + 5e-3


def test_sum_and_median_over_iterations():
    a = {"x": dict.fromkeys(ledger.LAYER_METRICS, 1.0)}
    b = {"x": {**dict.fromkeys(ledger.LAYER_METRICS, 2.0), "task_skew": 5.0}}
    it = ledger.sum_rows([a, b])
    assert it["x"]["jobs"] == 3.0 and it["x"]["task_skew"] == 5.0
    med = ledger.median_layers([a, it, b], ["x", "absent"])
    assert med["x.jobs"] == 2.0
    assert med["absent.jobs"] == 0.0
    assert len(med) == 2 * len(ledger.LAYER_METRICS)
