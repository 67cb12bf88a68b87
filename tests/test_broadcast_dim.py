"""One memo for broadcast dimensions: bounded, destroys what it evicts, and
shares one polygon prep between pip_join and extract_pip."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landlensdb_spark import broadcast_dim as bd
from landlensdb_spark import synth, tables, tz
from landlensdb_spark.operators.fused import extract_pip
from landlensdb_spark.operators.pip_join import _collect_polygons, pip_join

_DDL = "admin_id long, ring array<array<double>>"


def _square(spark, i: int):
    """A one-polygon table; a list of rows, so its collect runs a job."""
    x = float(i)
    ring = [[x, 0.0], [x + 1, 0.0], [x + 1, 1.0], [x, 1.0], [x, 0.0]]
    return spark.createDataFrame([(i, ring)], _DDL)


def _points(spark):
    return spark.createDataFrame([(0, 0.5, 0.5)], "id long, lon double, lat double")


def test_eviction_destroys_the_broadcast(spark):
    pts = _points(spark)
    first = _square(spark, 0)
    pip_join(pts, first)
    bc, _ = bd.broadcast_dim(first, _collect_polygons, "admin_id", "ring")
    assert bc._jbroadcast.isValid()
    for i in range(1, bd.BOUND + 1):
        pip_join(pts, _square(spark, i))
    assert len(bd._driver) == bd.BOUND
    assert not bc._jbroadcast.isValid()
    # the newest entries stay usable
    assert pip_join(pts, _square(spark, 0)).count() == 1


def test_pip_join_then_extract_pip_collects_polygons_once(spark, jobs_run):
    rows = synth.admin_polygons(spark).select("admin_id", "ring").collect()
    polys = spark.createDataFrame(rows, _DDL)
    pages = tables.pages(spark, 200)
    pts = _points(spark)
    _, n = jobs_run("pip_first", lambda: pip_join(pts, polys))
    assert n >= 1, "the polygon collect should run as a job"
    fused, n = jobs_run("fused_second", lambda: extract_pip(pages, polys))
    assert n == 0, f"extract_pip re-collected the polygons ({n} jobs)"
    assert fused.count() > 0


def test_with_timezone_frames_share_one_broadcast(spark):
    """More than BOUND lazy with_timezone frames all still run: the default
    zones frame is one per session, so the calls share one memo entry and
    evict no one's broadcast."""
    def _df(i):
        df = spark.createDataFrame([(i, 2.35, 48.85)], "key long, lon double, lat double")
        return df.withColumn("ts", F.timestamp_seconds(F.lit(0)))

    tz.with_timezone(_df(-1), key_cols=["key"])
    before = dict(bd._driver)
    frames = [tz.with_timezone(_df(i), key_cols=["key"]) for i in range(bd.BOUND + 3)]
    assert bd._driver.keys() == before.keys()
    rows = reduce(DataFrame.union, frames).collect()
    assert sorted(r["key"] for r in rows) == list(range(bd.BOUND + 3))
    assert {r["tz_name"] for r in rows} == {"Europe/Paris"}


def test_worker_state_builds_once_per_token():
    class _Bc:
        value = 3

    built = []

    def build(v):
        built.append(v)
        return (v * 2,)

    assert bd.worker_state("a", _Bc, build) == (6,)
    assert bd.worker_state("a", _Bc, build) == (6,)
    assert built == [3]
    for i in range(bd.BOUND):
        bd.worker_state(f"t{i}", _Bc, build)
    assert "a" not in bd._worker and len(bd._worker) == bd.BOUND
