"""Driver-local rows enter Spark as Arrow ``LocalRelation``s.

``session.local_frame`` ships rows as one typed Arrow table, so running
the frame starts no Python task. A list of tuples handed to
``createDataFrame`` plans as ``Scan ExistingRDD`` instead, and every job
over it unpickles the rows in a Python worker.
"""

from __future__ import annotations

import math

import pytest

from landlensdb_spark import checkpoint, synth
from landlensdb_spark.checkpoint import CHECKPOINT_SCHEMA, SUCCESS, CheckpointTable
from landlensdb_spark.session import local_frame

DDL = "id long, name string, ring array<array<double>>, blob binary, k int, v double"
ROWS = [
    (1, "a", [[0.0, 1.5], [2.0, None]], b"\x00\xff", 7, 0.25),
    (None, None, None, None, None, None),
    (2**53 + 1, "", [], b"", -3, float("nan")),
    (-1, "é", [[]], b"\x01", 2**31 - 1, -0.0),
]


def _assert_local(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b and type(a) is type(b)


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_equals_list_path(spark, rows):
    got = local_frame(spark, rows, DDL)
    want = spark.createDataFrame(rows, DDL)
    _assert_local(got)
    assert got.schema == want.schema
    assert _same([tuple(r) for r in got.collect()], [tuple(r) for r in want.collect()])


def test_synth_dim_is_local_relation(spark):
    _assert_local(synth.admin_polygons(spark))


def test_checkpoint_log_and_read_are_local_relations(spark, tmp_path, monkeypatch):
    frames = []

    def spy(*args):
        frames.append(local_frame(*args))
        return frames[-1]

    monkeypatch.setattr(checkpoint, "local_frame", spy)
    ckpt = CheckpointTable(spark, str(tmp_path / "ckpt"))
    _assert_local(ckpt.read())
    rows = [("r", "s", u, u, 10 * u, u, SUCCESS) for u in range(4)]
    ckpt.log(rows)
    assert len(frames) == 2
    for df in frames:
        _assert_local(df)
    assert frames[0].schema == spark.createDataFrame([], CHECKPOINT_SCHEMA).schema
    back = sorted(tuple(r)[:7] for r in ckpt.read().collect())
    assert back == rows
    assert ckpt.completed_ids("s") == {0, 1, 2, 3}
