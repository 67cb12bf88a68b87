"""Snap join vs a brute-force numpy oracle replicating the reference's exact
semantics: EPSG:3857 distances, <= tolerance, argmin with stable (dist, line)
tie-break, linear-referencing interpolation, unmatched rows kept as NULLs,
compass realignment."""

from __future__ import annotations

import numpy as np
import pandas as pd

from landlensdb_spark.geo.geometry import align_heading, bearing, polyline_nearest
from landlensdb_spark.geo.mercator import np_inv_merc, np_merc_x, np_merc_y
from landlensdb_spark.operators.snap import snap_to_network

LINES = [
    # multi-vertex zigzag street
    (0, [[-74.010, 40.700], [-74.005, 40.702], [-74.000, 40.700], [-73.995, 40.703]]),
    # straight avenue
    (1, [[-74.012, 40.695], [-73.990, 40.695]]),
    # short isolated segment
    (2, [[-74.020, 40.710], [-74.018, 40.711]]),
    # duplicate-ish geometry close to line 1 (exercises tie-break by line id)
    (3, [[-74.012, 40.695], [-73.990, 40.695]]),
]


def brute_force_oracle(px, py, tol):
    """Reference algorithm single-node: all-pairs, <=tol, min(dist, line_id)."""
    out = []
    merc_lines = []
    for lid, coords in LINES:
        c = np.asarray(coords)
        mc = np.stack([np_merc_x(c[:, 0]), np_merc_y(c[:, 1])], axis=1)
        merc_lines.append((lid, mc, c))
    for i in range(len(px)):
        mx, my = np_merc_x(np.array([px[i]]))[0], np_merc_y(np.array([py[i]]))[0]
        best = None
        for lid, mc, c in merc_lines:
            d, nx, ny, pos = polyline_nearest(mx, my, mc)
            if d <= tol and (best is None or (d, lid) < (best[0], best[1])):
                best = (d, lid, nx, ny, pos)
        out.append(best)
    return out


def test_snap_matches_brute_force(spark):
    rng = np.random.default_rng(99)
    px = rng.uniform(-74.025, -73.985, 600)
    py = rng.uniform(40.69, 40.715, 600)
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(px, py))],
        "id long, lon double, lat double",
    )
    net = spark.createDataFrame(
        [(lid, coords) for lid, coords in LINES],
        "line_id long, coords array<array<double>>",
    )
    got = (
        snap_to_network(pts, net, tolerance_m=100.0)
        .orderBy("id")
        .toPandas()
    )
    want = brute_force_oracle(px, py, 100.0)

    n_matched = sum(1 for w in want if w is not None)
    assert 10 < n_matched < 590  # both matched and unmatched present
    for i, w in enumerate(want):
        row = got.iloc[i]
        if w is None:
            assert pd.isna(row["line_id"]), f"row {i} should be unmatched"
            continue
        d, lid, nx, ny, pos = w
        assert row["line_id"] == lid, f"row {i}: {row['line_id']} != {lid}"
        assert abs(row["snap_dist"] - d) < 1e-6
        s_lon, s_lat = np_inv_merc(np.array([nx]), np.array([ny]))
        assert abs(row["snapped_lon"] - s_lon[0]) < 1e-9
        assert abs(row["snapped_lat"] - s_lat[0]) < 1e-9
        assert abs(row["snap_pos"] - pos) < 1e-6


def test_snap_tie_break_prefers_lower_line_id(spark):
    # lines 1 and 3 are identical -> every match to them must report line 1
    pts = spark.createDataFrame(
        [(0, -74.0, 40.6951), (1, -74.005, 40.69505)], "id long, lon double, lat double"
    )
    net = spark.createDataFrame(LINES, "line_id long, coords array<array<double>>")
    got = snap_to_network(pts, net, tolerance_m=100.0).toPandas()
    assert (got["line_id"] == 1).all()


def test_snap_realign_compass(spark):
    # avenue runs east-west (bearing ~90); compass 100 -> keep ~90, compass 260 -> flip ~270
    # the zigzag's first segment (bearing ~62) vs compass 350: 72 degrees
    # forward, 108 reversed -> keep ~62 (a sign-keeping % flips it); a NULL
    # compass has no heading to align -> NULL
    pts = spark.createDataFrame(
        [
            (0, -74.0, 40.6951, 100.0),
            (1, -74.0, 40.6951, 260.0),
            (2, -74.0075, 40.7011, 350.0),
            (3, -74.0, 40.6951, None),
        ],
        "id long, lon double, lat double, compass_angle double",
    )
    net = spark.createDataFrame(LINES, "line_id long, coords array<array<double>>")
    got = (
        snap_to_network(pts, net, tolerance_m=100.0, compass="compass_angle")
        .orderBy("id")
        .toPandas()
    )
    assert list(got["line_id"]) == [1, 1, 0, 1]
    b = bearing(
        np.array([-74.012, -74.010]), np.array([40.695, 40.700]),
        np.array([-73.990, -74.005]), np.array([40.695, 40.702]),
    )
    want = align_heading(b[[0, 0, 1]], np.array([100.0, 260.0, 350.0]))
    assert np.allclose(got["snapped_angle"].to_numpy()[:3], want, atol=1e-9)
    assert abs(want[2] - b[1]) < 1e-9
    assert pd.isna(got["snapped_angle"].iloc[3])


def test_snap_passthrough_columns_and_nulls(spark):
    # 2^53 + 1 has no float64 twin: a pandas round trip of a nullable long
    # that shares its batch (coalesce(1)) with a NULL would return 2^53
    big = 2**53 + 1
    pts = spark.createDataFrame(
        [(0, -74.0, 40.6951, "a", big), (1, 10.0, 50.0, "b", None)],
        "id long, lon double, lat double, tag string, v long",
    ).coalesce(1)
    net = spark.createDataFrame(LINES, "line_id long, coords array<array<double>>")
    got = snap_to_network(pts, net, tolerance_m=100.0).orderBy("id").collect()
    assert [r["tag"] for r in got] == ["a", "b"]
    assert [r["v"] for r in got] == [big, None]
    assert got[0]["line_id"] is not None
    assert got[1]["line_id"] is None and got[1]["snapped_lon"] is None
