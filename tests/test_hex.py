"""Hexagonal cell index (geo/hex.py): geometry invariants, column/numpy
twin agreement, k-ring structure, and plan quality (no UDF)."""
from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from landlensdb_spark.geo.hex import (
    HEX_RES,
    SQRT3,
    hex_dist,
    hex_edge_m,
    hex_encode,
    hex_kring,
    hex_q,
    hex_r,
    hex_res,
    np_hex_center_xy,
    np_hex_decode,
    np_hex_encode,
)
from landlensdb_spark.geo.mercator import np_merc_x, np_merc_y

RNG = np.random.default_rng(20260817)
N = 4000
LONS = RNG.uniform(-179.0, 179.0, N)
LATS = RNG.uniform(-80.0, 80.0, N)


def test_column_matches_numpy_twin(spark):
    df = spark.createDataFrame(
        [(i, float(LONS[i]), float(LATS[i])) for i in range(N)],
        "key long, lon double, lat double",
    )
    got = (
        df.select("key", hex_encode("lon", "lat", HEX_RES).alias("h"))
        .orderBy("key")
        .collect()
    )
    want = np_hex_encode(LONS, LATS, HEX_RES)
    assert [r["h"] for r in got] == want.tolist()


def test_center_is_nearest_hex_center():
    """Containment: every point is closer to ITS hex center than to any of
    the 6 neighbor centers (strictly, up to float ties) — the defining
    property of a correct cube-round."""
    res = 12
    cells = np_hex_encode(LONS, LATS, res)
    x, y = np_merc_x(LONS), np_merc_y(LATS)
    cx, cy = np_hex_center_xy(cells, res)
    d_own = (x - cx) ** 2 + (y - cy) ** 2
    e = hex_edge_m(res)
    # distance to own center is bounded by the circumradius (= edge)
    assert np.sqrt(d_own).max() <= e * (1 + 1e-9)
    _, q, r = np_hex_decode(cells)
    for dq, dr in ((1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)):
        nx = e * (SQRT3 * (q + dq) + (SQRT3 / 2.0) * (r + dr))
        ny = e * 1.5 * (r + dr)
        d_n = (x - nx) ** 2 + (y - ny) ** 2
        assert (d_own <= d_n * (1 + 1e-12)).all()


def test_decode_roundtrip_and_res_field():
    cells = np_hex_encode(LONS, LATS, 17)
    res, q, r = np_hex_decode(cells)
    assert (res == 17).all()
    re_packed = (
        (np.int64(17) << 58) + ((q + (1 << 28)) << 29) + (r + (1 << 28))
    )
    assert (re_packed == cells).all()


def test_edge_ladder_matches_h3_res9_ballpark():
    # res 17 edge ~176.5 m ~= H3 res 9 (~174.4 m) — the north star's level
    assert hex_edge_m(17) == pytest.approx(176.5, abs=1.0)
    assert hex_edge_m(16) / hex_edge_m(17) == pytest.approx(2.0)


def test_kring_structure(spark):
    """|kring(k)| == 3k(k+1)+1 away from field edges; every member is at
    hex distance <= k of the center and exactly the distance-<=k set."""
    df = spark.createDataFrame(
        [(i, float(LONS[i]), float(LATS[i])) for i in range(50)],
        "key long, lon double, lat double",
    )
    base = df.select("key", hex_encode("lon", "lat", 10).alias("h"))
    for k in (1, 2, 3):
        rows = base.select(
            "key", "h", F.explode(hex_kring("h", k)).alias("n")
        ).collect()
        by_key: dict[int, list] = {}
        for r in rows:
            by_key.setdefault(r["key"], []).append((r["h"], r["n"]))
        dist_df = spark.createDataFrame(
            [(a, b) for v in by_key.values() for a, b in v], "h long, n long"
        ).select(hex_dist("h", "n").alias("d"))
        dists = [r["d"] for r in dist_df.collect()]
        assert max(dists) <= k
        for v in by_key.values():
            assert len(v) == 3 * k * (k + 1) + 1
            assert len(set(b for _, b in v)) == len(v)


def test_neighbors_share_an_edge_metrically():
    """The 6 hex-distance-1 neighbors' centers sit exactly sqrt(3)*edge
    away (the hex center pitch)."""
    res = 14
    e = hex_edge_m(res)
    cells = np_hex_encode(LONS[:200], LATS[:200], res)
    cx, cy = np_hex_center_xy(cells, res)
    _, q, r = np_hex_decode(cells)
    for dq, dr in ((1, 0), (0, 1), (1, -1)):
        nx = e * (SQRT3 * (q + dq) + (SQRT3 / 2.0) * (r + dr))
        ny = e * 1.5 * (r + dr)
        pitch = np.sqrt((cx - nx) ** 2 + (cy - ny) ** 2)
        # centers are ~1e7 m while the pitch is ~3e2 m: differencing loses
        # ~5 digits to cancellation, so tolerance is loose-relative
        assert pitch == pytest.approx(SQRT3 * e, rel=1e-8)


def test_plan_is_pure_column_math(spark):
    """hex_encode + decode + dist compile to codegen expressions: no
    python UDF / Arrow stage in the plan."""
    df = spark.range(100).select(
        (F.col("id") * 0.01).alias("lon"), (F.col("id") * 0.005).alias("lat")
    )
    out = df.select(hex_encode("lon", "lat").alias("h")).select(
        hex_q("h"), hex_r("h"), hex_res("h")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "mapinpandas" not in plan.lower()


def test_res_validation():
    with pytest.raises(ValueError):
        hex_encode(F.lit(0.0), F.lit(0.0), 29)


def test_polar_latitudes_clamp_not_bleed(spark):
    """lat ±90 is mercator y = ±inf in doubles — without the mercator-square
    clamp the packing corrupts entirely (floor(inf) has no long value).
    Poles must land on the square's edge row at EVERY res, agree with the
    numpy twin, and never bleed into adjacent bit fields. NaN coords yield
    a NULL cell (Spark orders NaN above +inf, so a bare least/greatest
    would otherwise clamp NaN to the edge)."""
    df = spark.createDataFrame(
        [(1, 0.0, 90.0), (2, 0.0, -90.0), (3, float("nan"), 10.0),
         (4, 10.0, float("nan"))],
        "key long, lon double, lat double",
    )
    for res in (17, 28):
        rows = {
            r["key"]: r
            for r in df.select(
                "key", hex_encode("lon", "lat", res).alias("h")
            )
            .select("key", "h", hex_res("h").alias("res"))
            .collect()
        }
        assert rows[1]["res"] == res and rows[2]["res"] == res
        assert rows[3]["h"] is None and rows[4]["h"] is None
        want = np_hex_encode(np.array([0.0, 0.0]), np.array([90.0, -90.0]), res)
        assert [rows[1]["h"], rows[2]["h"]] == want.tolist()
    # the clamped pole sits within the packed fields at the finest res
    _, q, r = np_hex_decode(want)
    assert (np.abs(q) < (1 << 28)).all() and (np.abs(r) < (1 << 28)).all()


# ---------------------------------------------------------------------------
# hex_distance_join (operators/hex_join.py)
# ---------------------------------------------------------------------------


def _pt_df(spark, rows, idc):
    return spark.createDataFrame(rows, f"{idc} long, lon double, lat double")


def test_hex_distance_join_matches_bruteforce(spark):
    """Candidate completeness on a random field: hex-ring join == exact
    O(n^2) distance join, at the auto res AND at a deliberately coarser
    res (more false candidates, same final set)."""
    from landlensdb_spark.operators.hex_join import auto_res, hex_distance_join

    n = 300
    lons = -74.05 + RNG.uniform(0, 0.02, n)
    lats = 40.65 + RNG.uniform(0, 0.02, n)
    probes = _pt_df(
        spark, [(i, float(lons[i]), float(lats[i])) for i in range(150)], "probe_id"
    )
    sites = _pt_df(
        spark, [(i, float(lons[i]), float(lats[i])) for i in range(150, n)], "site_id"
    )
    radius = 120.0

    x, y = np_merc_x(lons).round(3), np_merc_y(lats).round(3)
    want = set()
    for i in range(150):
        d2 = (x[150:] - x[i]) ** 2 + (y[150:] - y[i]) ** 2
        for j in np.where(d2 <= radius**2)[0]:
            want.add((i, 150 + int(j)))
    assert want  # non-degenerate fixture

    for res in (None, auto_res(radius) - 2):
        got = {
            (r["probe_id"], r["site_id"])
            for r in hex_distance_join(probes, sites, radius, res=res).collect()
        }
        assert got == want


def test_hex_distance_join_plan_has_no_cartesian(spark):
    from landlensdb_spark.operators.hex_join import hex_distance_join

    probes = _pt_df(spark, [(1, -74.0, 40.7)], "probe_id")
    sites = _pt_df(spark, [(2, -74.0005, 40.7005)], "site_id")
    out = hex_distance_join(probes, sites, 100.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    rows = out.collect()
    # ~0.0005 deg ~ 70m planar: the single pair must survive with a
    # positive distance under the radius
    assert len(rows) == 1 and 0 < rows[0]["dist_m"] <= 100.0


def test_hex_distance_join_guards(spark):
    from landlensdb_spark.operators.hex_join import MAX_RING, auto_res, hex_distance_join

    probes = _pt_df(spark, [(1, 0.0, 0.0)], "probe_id")
    with pytest.raises(ValueError, match="coarser"):
        hex_distance_join(probes, probes, 1000.0, res=28)
    with pytest.raises(ValueError, match="positive"):
        auto_res(0.0)
    # auto res keeps the ring at the k=2 sweet spot across magnitudes
    from landlensdb_spark.geo.hex import hex_edge_m
    import math as _m

    for r in (5.0, 150.0, 5000.0, 200_000.0):
        res = auto_res(r)
        e = hex_edge_m(res)
        k = _m.ceil((r + 2 * e) / (1.5 * e))
        assert k <= 3 and 3 * k * (k + 1) + 1 <= 37


def test_hex_bbox_cover_is_complete_superset():
    """Every random point inside the bbox gets a cell that IS in the
    cover (completeness); cover cells' centers stay within the expanded
    bbox (boundedness)."""
    from landlensdb_spark.geo.hex import hex_edge_m, np_hex_bbox_cover

    res = 13
    box = (-74.05, 40.65, -73.95, 40.75)
    cover = set(np_hex_bbox_cover(*box, res=res).tolist())
    m = 2000
    lons = RNG.uniform(box[0], box[2], m)
    lats = RNG.uniform(box[1], box[3], m)
    cells = np_hex_encode(lons, lats, res)
    assert set(cells.tolist()) <= cover
    cx, cy = np_hex_center_xy(np.array(sorted(cover)), res)
    e = hex_edge_m(res)
    x0, x1 = np_merc_x(np.array(box[::2]))
    y0, y1 = np_merc_y(np.array(box[1::2]))
    # expansion (e) + floor/ceil enumeration slack (sqrt(3)*e per axis)
    pad = 3.0 * e
    assert cx.min() >= x0 - pad and cx.max() <= x1 + pad
    assert cy.min() >= y0 - pad and cy.max() <= y1 + pad
