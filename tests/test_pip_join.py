"""Point-in-polygon join: distributed two-phase join vs (a) the grid-binning
closed-form the SQL oracle uses, (b) a brute-force numpy ray-cast oracle on
irregular/concave/holed polygons."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from landlensdb_spark import synth
from landlensdb_spark.geo.geometry import points_in_polygon
from landlensdb_spark.operators.pip_join import pip_join


def test_pip_grid_matches_floor_binning(spark):
    n = 4000
    pts = spark.range(n).select(
        F.col("id"),
        synth.lon_col(F.col("id")).alias("lon"),
        synth.lat_col(F.col("id")).alias("lat"),
    )
    polys = synth.admin_polygons(spark)
    out = pip_join(pts, polys).select("id", "admin_id").toPandas()

    i = np.arange(n)
    lon, lat = synth.np_lon(i), synth.np_lat(i)
    gx = np.floor((lon - synth.GRID_X0) / synth.GRID_DX).astype(np.int64)
    gy = np.floor((lat - synth.GRID_Y0) / synth.GRID_DY).astype(np.int64)
    want = gx * synth.GRID_NY + gy

    assert len(out) == n  # grid covers the whole field, non-overlapping
    got = out.set_index("id")["admin_id"].sort_index().to_numpy()
    assert (got == want).all()


def test_pip_irregular_polygons_vs_numpy_oracle(spark):
    # concave L, a polygon with a hole, and a triangle — overlapping the L
    L = [[0.0, 0.0], [8.0, 0.0], [8.0, 2.0], [2.0, 2.0], [2.0, 8.0], [0.0, 8.0], [0.0, 0.0]]
    shell = [[10.0, 10.0], [20.0, 10.0], [20.0, 20.0], [10.0, 20.0], [10.0, 10.0]]
    hole = [[14.0, 14.0], [16.0, 14.0], [16.0, 16.0], [14.0, 16.0], [14.0, 14.0]]
    tri = [[-1.0, -1.0], [6.0, 1.0], [1.0, 6.0], [-1.0, -1.0]]
    polys = spark.createDataFrame(
        [(0, "L", [L]), (1, "holed", [shell, hole]), (2, "tri", [tri])],
        "admin_id long, name string, ring array<array<array<double>>>",
    )
    rng = np.random.default_rng(42)
    px = rng.uniform(-2, 22, 3000)
    py = rng.uniform(-2, 22, 3000)
    pts = spark.createDataFrame(
        [(int(k), float(a), float(b)) for k, (a, b) in enumerate(zip(px, py))],
        "id long, lon double, lat double",
    )
    out = pip_join(pts, polys, rings_col="ring").select("id", "admin_id").toPandas()
    got = set(map(tuple, out.to_numpy()))

    want = set()
    for pid, rings in [(0, [L]), (1, [shell, hole]), (2, [tri])]:
        arrs = [np.asarray(r) for r in rings]
        inside = points_in_polygon(px, py, arrs)
        want |= {(int(k), pid) for k in np.where(inside)[0]}
    assert got == want
    # overlap region produced multiple matches for some point
    from collections import Counter

    c = Counter(k for k, _ in got)
    assert max(c.values()) == 2


def test_pip_keep_polygon_cols(spark):
    pts = spark.range(100).select(
        F.col("id"),
        synth.lon_col(F.col("id")).alias("lon"),
        synth.lat_col(F.col("id")).alias("lat"),
    )
    polys = synth.admin_polygons(spark)
    out = pip_join(pts, polys, keep_polygon_cols=["name"])
    assert "name" in out.columns
    row = out.limit(1).collect()[0]
    assert row["name"].startswith("admin_")


def test_compact_cover_np_merges_same_flag_blocks():
    """Flag-aware cover compaction (round-6 verdict #7): complete
    same-flag 4-sibling blocks collapse recursively; mixed-flag blocks do
    NOT merge."""
    from landlensdb_spark.geo.cells import _RES_SHIFT, _X_SHIFT
    from landlensdb_spark.operators.pip_join import _compact_cover_np

    def mk(res, x, y):
        return (res << _RES_SHIFT) | (x << _X_SHIFT) | y

    # aligned 4x4 block at res 8, all full=True -> single res-6 cell
    cells = np.array(
        [mk(8, 16 + dx, 32 + dy) for dx in range(4) for dy in range(4)],
        dtype=np.int64,
    )
    cc, cf = _compact_cover_np(cells, np.ones(16, dtype=bool))
    assert list(cc) == [mk(6, 4, 8)] and list(cf) == [True]

    # same block but one corner cell is boundary (full=False): its 2x2
    # sibling block must NOT merge; the other three 2x2 blocks do, and the
    # res-7 level then stays unmerged (mixed flags / incomplete)
    flags = np.ones(16, dtype=bool)
    flags[0] = False
    cc2, cf2 = _compact_cover_np(cells, flags)
    assert len(cc2) == 3 + 4  # 3 merged res-7 parents + 4 res-8 leftovers
    assert sorted(cf2) == [False] + [True] * 6
    # footprint preserved: uncompact back to res 8 equals the input set
    back = set()
    for c in cc2:
        res = int(c) >> _RES_SHIFT
        x = (int(c) >> _X_SHIFT) & ((1 << _X_SHIFT) - 1)
        y = int(c) & ((1 << _X_SHIFT) - 1)
        d = 8 - res
        for dx in range(1 << d):
            for dy in range(1 << d):
                back.add(mk(8, (x << d) + dx, (y << d) + dy))
    assert back == set(int(c) for c in cells)


def test_pip_compacted_cover_shrinks_and_stays_exact(spark):
    """A polygon whose bbox cover is a large aligned grid: the broadcast
    cover table must shrink under compaction while pip_join results stay
    exactly the brute-force ray-cast's."""
    from landlensdb_spark.geo.cells import _RES_SHIFT
    from landlensdb_spark.operators.pip_join import _collect_polygons

    # square covering res-6 cells 32..37 per axis (6x6 bbox cover, 5.625
    # deg/cell from lon/lat 0 = cell 32): the full=True interior 33..36
    # contains the aligned even-start sibling pair (34,35) on both axes,
    # so exactly that 2x2 block merges. (An UNALIGNED cover may
    # legitimately compact to nothing — merging is alignment-dependent;
    # see test_compact_cover_np_merges_same_flag_blocks for the
    # kernel-level contract.)
    sq = [[0.1, 0.1], [33.7, 0.1], [33.7, 33.7], [0.1, 33.7], [0.1, 0.1]]
    polys = spark.createDataFrame(
        [(0, [sq])], "admin_id long, ring array<array<array<double>>>"
    )
    _, cover, res_sorted = _collect_polygons(polys, "admin_id", "ring")
    assert len(res_sorted) > 1, "compaction should produce mixed resolutions"
    # footprint bookkeeping: expanding every compacted cell back to the
    # finest res recovers the original solid-rectangle cell count, and the
    # compacted table is strictly smaller than that rectangle
    finest = res_sorted[-1]
    uncompacted = int((4 ** (finest - (cover[:, 0] >> _RES_SHIFT))).sum())
    assert len(cover) < uncompacted
    rng = np.random.default_rng(11)
    px = rng.uniform(-1, 24, 2500)
    py = rng.uniform(-1, 24, 2500)
    pts = spark.createDataFrame(
        [(int(k), float(a), float(b)) for k, (a, b) in enumerate(zip(px, py))],
        "id long, lon double, lat double",
    )
    out = pip_join(pts, polys, rings_col="ring").select("id").toPandas()
    want = set(np.where(points_in_polygon(px, py, [np.asarray(sq)]))[0])
    assert set(out["id"]) == want


def _edge_polygons(spark, n=6, z=13):
    """Thin rectangles whose south edge lies exactly on a z``z`` tile-edge
    latitude, preferring the edges where Catalyst ``tile_y`` puts the edge
    one row south of ``np_tile_xy`` (the cover's encoder)."""
    from landlensdb_spark.geo.tiles import np_tile_north, np_tile_xy, tile_y

    ys = np.arange(1, 2**z)
    edges = np_tile_north(ys, z)
    probe = spark.createDataFrame(
        [(int(y), float(v)) for y, v in zip(ys, edges)], "y long, lat double"
    )
    cat = np.array(
        [r[0] for r in probe.orderBy("y").select(tile_y("lat", z)).collect()]
    )
    south_of_cover = cat > np_tile_xy(np.zeros_like(edges), edges, z)[1]
    prefer = south_of_cover & (np.abs(edges) < 60)
    picked = edges[np.argsort(~prefer, kind="stable")[:n]]
    rings = {
        i: [[10.0, s], [10.02, s], [10.02, s + 0.02], [10.0, s + 0.02], [10.0, s]]
        for i, s in enumerate(map(float, picked))
    }
    polys = spark.createDataFrame(
        [(i, [r]) for i, r in rings.items()],
        "admin_id long, ring array<array<array<double>>>",
    )
    return polys, picked, rings


def _brute(px, py, rings):
    return {
        (k, pid)
        for pid, r in rings.items()
        for k in np.flatnonzero(points_in_polygon(px, py, [np.asarray(r)]))
    }


def test_pip_tile_edge_points_agree_across_operators(spark):
    """A point exactly on a polygon's south edge, where that edge is a tile
    edge, is probed with the cover's own encoder: pip_join and extract_pip
    both match the brute-force ray-cast (south edges are inside)."""
    from landlensdb_spark.extract import extract_geotags
    from landlensdb_spark.operators.fused import extract_pip

    polys, south, rings = _edge_polygons(spark)
    # on the south edge, just below it, inside, and on the north edge
    py = np.concatenate(
        [south, np.nextafter(south, -np.inf), south + 0.01, south + 0.02]
    )
    px = np.full(len(py), 10.01)
    pts = spark.createDataFrame(
        [(k, float(a), float(b)) for k, (a, b) in enumerate(zip(px, py))],
        "id long, lon double, lat double",
    )
    got = {tuple(r) for r in pip_join(pts, polys).select("id", "admin_id").collect()}
    assert got == _brute(px, py, rings)
    assert {k for k, _ in got} >= set(range(len(south)))  # every south-edge point

    # extraction rounds coordinates to 6 dp: compare on what it extracts
    meta = (
        '<meta property="place:location:latitude" content="{!r}"/>'
        '<meta property="place:location:longitude" content="{!r}"/>'
    )
    pages = spark.createDataFrame(
        [(k, meta.format(float(b), float(a)).encode()) for k, (a, b) in enumerate(zip(px, py))],
        "id long, html binary",
    )
    fused = {tuple(r) for r in extract_pip(pages, polys).select("id", "admin_id").collect()}
    composed = pip_join(extract_geotags(pages, with_text=False), polys)
    assert fused == {tuple(r) for r in composed.select("id", "admin_id").collect()}
    assert fused == _brute(px, np.round(py, 6), rings)


def test_pip_join_drops_null_and_nan_points(spark):
    polys = synth.admin_polygons(spark)
    lon, lat = float(synth.np_lon(0)), float(synth.np_lat(0))
    pts = spark.createDataFrame(
        [(0, lon, lat), (1, lon, None), (2, float("nan"), lat)],
        "id long, lon double, lat double",
    )
    assert [r["id"] for r in pip_join(pts, polys).collect()] == [0]
