"""Hex polyfill (operators/polyfill.py): brute-force parity, H3
center-containment semantics (tiling disjointness, slivers), the
runaway-enumeration guard, and schema passthrough — exact for a nullable
long, through ``map_batches``' row-index rule."""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from landlensdb_spark.geo.geometry import points_in_polygon
from landlensdb_spark.geo.hex import (
    hex_edge_m,
    np_hex_bbox_cover,
    np_hex_center_xy,
)
from landlensdb_spark.geo.mercator import np_inv_merc
from landlensdb_spark.operators.multimodal import map_batches
from landlensdb_spark.operators.polyfill import (
    _estimate_cover_cells,
    hex_polyfill,
)

RES = 9  # edge ~45 km: city/region-sized test polygons stay small


def _brute(ring: list[list[float]], res: int = RES) -> set[int]:
    """Oracle: enumerate a generous bbox cover, keep centers in-ring."""
    r = np.asarray(ring, dtype=np.float64)
    cells = np_hex_bbox_cover(
        float(r[:, 0].min()), float(r[:, 1].min()),
        float(r[:, 0].max()), float(r[:, 1].max()), res,
    )
    lon, lat = np_inv_merc(*np_hex_center_xy(cells, res))
    return set(cells[points_in_polygon(lon, lat, [r])].tolist())


def _fill(spark, rows, res=RES, **kw):
    df = spark.createDataFrame(
        rows, "poly_id long, name string, ring array<array<double>>"
    )
    return hex_polyfill(df, res=res, **kw)


RECT = [[10.0, 45.0], [14.0, 45.0], [14.0, 48.0], [10.0, 48.0], [10.0, 45.0]]
# non-convex L-shape: the notch [12..14] x [46..48] is OUTSIDE
ELL = [
    [10.0, 45.0], [14.0, 45.0], [14.0, 46.0], [12.0, 46.0],
    [12.0, 48.0], [10.0, 48.0], [10.0, 45.0],
]


def test_matches_brute_force_rect_and_L(spark):
    got = {
        (row["poly_id"], row["cell"])
        for row in _fill(
            spark, [(1, "rect", RECT), (2, "ell", ELL)]
        ).collect()
    }
    want = {(1, c) for c in _brute(RECT)} | {(2, c) for c in _brute(ELL)}
    assert got == want
    assert len(got) > 20  # the polygons are many cells big at RES


def test_L_notch_is_excluded(spark):
    """Every L-shape cell must also be a rect cell, and the cells of the
    notch region (strictly inside the notch rectangle) must be absent."""
    ell = _brute(ELL)
    rect = _brute(RECT)
    assert ell < rect
    notch = _brute([[12.0, 46.0], [14.0, 46.0], [14.0, 48.0],
                    [12.0, 48.0], [12.0, 46.0]])
    assert not (ell & notch)
    assert ell | notch == rect  # half-open ray-cast: exact 2-piece tiling


def test_adjacent_polygons_tile_disjointly(spark):
    """Center-containment + half-open boundary rule => two polygons
    sharing an edge claim disjoint cell sets whose union is the merged
    polygon's set (no cell double-claimed or dropped on the shared edge)."""
    left = [[10.0, 45.0], [12.0, 45.0], [12.0, 48.0], [10.0, 48.0], [10.0, 45.0]]
    right = [[12.0, 45.0], [14.0, 45.0], [14.0, 48.0], [12.0, 48.0], [12.0, 45.0]]
    out = _fill(spark, [(1, "l", left), (2, "r", right)]).collect()
    lcells = {r["cell"] for r in out if r["poly_id"] == 1}
    rcells = {r["cell"] for r in out if r["poly_id"] == 2}
    assert not (lcells & rcells)
    assert lcells | rcells == _brute(RECT)


def test_sliver_yields_no_rows(spark):
    """A polygon narrower than a cell that dodges every center is empty
    output, not an error (documented H3-semantics limitation)."""
    e_deg = 0.001  # ~100 m << 45 km cells; pick a corridor off any center
    sliver = [[10.0, 45.0], [10.0 + e_deg, 45.0], [10.0 + e_deg, 45.01],
              [10.0, 45.01], [10.0, 45.0]]
    out = _fill(spark, [(1, "s", sliver)]).collect()
    assert out == [] or all(r["poly_id"] == 1 for r in out)


def test_schema_passthrough_and_cell_res(spark):
    df = _fill(spark, [(7, "x", RECT)])
    assert df.columns == ["poly_id", "name", "cell"]
    rows = df.collect()
    assert all(r["name"] == "x" for r in rows)
    assert all((r["cell"] >> 58) == RES for r in rows)


def test_nullable_long_passthrough_is_exact(spark):
    # 2^53 + 1 has no float64 twin: a pandas explode of a nullable long
    # that shares its batch with a NULL would return 2^53. Every one of the
    # 4 partitions (no repartition below 4) holds one of each.
    big = 2**53 + 1
    ring = F.array(*[F.array(F.lit(x), F.lit(y)) for x, y in RECT])
    polys = spark.range(0, 8, 1, 4).select(
        F.col("id").alias("poly_id"),
        F.when(F.col("id") % 2 == 0, F.lit(big)).alias("v"),
        ring.alias("ring"),
    )
    rows = hex_polyfill(polys, res=RES).collect()
    assert len(rows) == 8 * len(_brute(RECT))
    assert {(r["poly_id"] % 2, r["v"]) for r in rows} == {(0, big), (1, None)}


def test_map_batches_row_index_with_no_output_rows(spark):
    # a kernel may drop every row of a non-empty batch: an empty row index
    # still gives typed, empty kept columns
    df = spark.createDataFrame(
        [(1, "a", b"x"), (2, None, b"y")], "id long, name string, blob binary"
    )
    out = map_batches(
        df,
        ["blob"],
        lambda blobs: [np.empty(0, np.int64), [], []],
        "n long, tags map<string,string>",
        keep=["id", "name"],
    )
    assert out.collect() == []
    assert out.schema.simpleString() == (
        "struct<id:bigint,name:string,n:bigint,tags:map<string,string>>"
    )
    # a keep name missing from the input fails at plan time, by name
    with pytest.raises(ValueError, match="nmae"):
        map_batches(df, ["blob"], lambda blobs: [blobs], "b binary", keep=["nmae"])


def test_estimate_guard_refuses_runaway(spark):
    # world-sized ring at street-level res => guard fires up front
    world = [[-179.0, -80.0], [179.0, -80.0], [179.0, 80.0],
             [-179.0, 80.0], [-179.0, -80.0]]
    assert _estimate_cover_cells(-179, -80, 179, 80, 17) > 10**9
    with pytest.raises(Exception, match="max_cells_per_poly"):
        _fill(spark, [(1, "w", world)], res=17).collect()


def test_bad_ring_raises(spark):
    with pytest.raises(Exception, match="ring"):
        _fill(spark, [(1, "bad", [[0.0, 0.0], [1.0, 1.0]])]).collect()


def test_parcel_grid_clears_the_center_lattice():
    """The driver oracle's precondition (synth.py parcel comment): every
    res-6 center keeps real clearance from every parcel boundary, so the
    half-open bin can't flip on a 1-ulp libm difference between numpy and
    DuckDB. (The admin grid FAILS this — centers sit exactly on its
    boundaries — which is why the polyfill query uses parcels.)"""
    from landlensdb_spark import synth

    cells = np_hex_bbox_cover(
        synth.PARCEL_X0, synth.PARCEL_Y0, synth.PARCEL_X1, synth.PARCEL_Y1, 6
    )
    lon, lat = np_inv_merc(*np_hex_center_xy(cells, 6))
    lonb = np.array(
        [synth.PARCEL_X0 + k * synth.PARCEL_DX for k in range(synth.PARCEL_NX + 1)]
    )
    latb = np.array(
        [synth.PARCEL_Y0 + k * synth.PARCEL_DY for k in range(synth.PARCEL_NY + 1)]
    )
    assert np.abs(lon[:, None] - lonb[None, :]).min() > 1e-3
    assert np.abs(lat[:, None] - latb[None, :]).min() > 1e-3
    # and the admin grid really is degenerate (documents WHY parcels exist)
    admin_b = np.array([synth.GRID_X0 + k * synth.GRID_DX for k in range(33)])
    assert np.abs(lon[:, None] - admin_b[None, :]).min() < 1e-9


def test_estimate_is_an_upper_bound():
    for ring in (RECT, ELL):
        r = np.asarray(ring)
        est = _estimate_cover_cells(
            r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max(), RES
        )
        actual = np_hex_bbox_cover(
            float(r[:, 0].min()), float(r[:, 1].min()),
            float(r[:, 0].max()), float(r[:, 1].max()), RES,
        ).size
        assert est >= actual


def test_dissolve_dedupes_shared_cells(spark):
    from landlensdb_spark.operators.polyfill import dissolve

    cov = spark.createDataFrame(
        [(0, 7), (0, 7), (0, 8), (1, 7), (0, 9)], "region int, cell long"
    )
    got = sorted(map(tuple, dissolve(cov, "region").collect()))
    assert got == [(0, 7), (0, 8), (0, 9), (1, 7)]
