"""Tile / cell / mercator math: Spark column expressions vs numpy twins vs
the reference's golden formulas (cloud.py:860-911 executed directly)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from landlensdb_spark.geo import cells, mercator, tiles


def ref_tile_xy(lon: float, lat: float, zoom: int) -> tuple[int, int]:
    """The reference's formula verbatim (cloud.py:869-873) as the oracle."""
    n = 2 ** zoom
    x = int((lon + 180.0) / 360.0 * n)
    lat_rad = math.radians(lat)
    y = int((1.0 - math.asinh(math.tan(lat_rad)) / math.pi) / 2.0 * n)
    return min(max(x, 0), n - 1), min(max(y, 0), n - 1)


def _sample_lonlat(n=500, seed=7):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-179.9, 179.9, n)
    lat = rng.uniform(-84.9, 84.9, n)
    return lon, lat


def test_np_tile_matches_reference_formula():
    lon, lat = _sample_lonlat()
    x, y = tiles.np_tile_xy(lon, lat, 14)
    for i in range(len(lon)):
        rx, ry = ref_tile_xy(lon[i], lat[i], 14)
        assert (x[i], y[i]) == (rx, ry)


def test_spark_tile_matches_numpy(spark):
    lon, lat = _sample_lonlat(300)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
    )
    out = tiles.with_tile(df, zoom=14).select("tile_x", "tile_y", "quadkey").toPandas()
    x, y = tiles.np_tile_xy(lon, lat, 14)
    qk = tiles.np_quadkey(x, y, 14)
    assert (out["tile_x"].to_numpy() == x).all()
    assert (out["tile_y"].to_numpy() == y).all()
    assert (out["quadkey"].to_numpy() == qk).all()


@pytest.mark.parametrize("zoom", [0, 1, 14, 29])
def test_with_tile_quadkey_at_grid_edges(spark, zoom):
    """x, y in {0, n-1}: the corner tiles, whose quadkeys set no bit or
    every bit below the zoom prefix."""
    n = 2**zoom
    df = spark.createDataFrame(
        [(lon, lat) for lon in (-180.0, 180.0) for lat in (89.0, -89.0)],
        "lon double, lat double",
    )
    out = tiles.with_tile(df, zoom=zoom).toPandas()
    x, y = out["tile_x"].to_numpy(), out["tile_y"].to_numpy()
    assert sorted(zip(x, y)) == [(0, 0), (0, n - 1), (n - 1, 0), (n - 1, n - 1)]
    assert (out["tile_z"] == zoom).all()
    assert (out["quadkey"].to_numpy() == tiles.np_quadkey(x, y, zoom)).all()


def test_tile_bounds_roundtrip(spark):
    df = spark.createDataFrame([(8192, 5461), (0, 0), (16383, 16383)], "x long, y long")
    w, s, e, nn = tiles.tile_bounds("x", "y", 14)
    out = df.select(
        w.alias("w"), s.alias("s"), e.alias("e"), nn.alias("n"), "x", "y"
    ).toPandas()
    # reference inverse formula (cloud.py:897-907)
    for _, r in out.iterrows():
        n = 2.0 ** 14
        assert abs(r["w"] - (r["x"] / n * 360.0 - 180.0)) < 1e-9
        lat_n = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * r["y"] / n))))
        assert abs(r["n"] - lat_n) < 1e-9
        # tile of the cell center maps back to the same tile
        cx = (r["w"] + r["e"]) / 2
        cy = (r["s"] + r["n"]) / 2
        assert ref_tile_xy(cx, cy, 14) == (r["x"], r["y"])


# The Column-built formulas the SQL-text helpers replaced, kept here as the
# reference: every helper must resolve to the same Catalyst expression, so a
# decimal literal (a bare 180.0 in SQL text) or a lost cast shows up.
def _old_tile_x(lon, zoom):
    n = 2**zoom
    raw = F.floor((F.col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1)).cast("long")


def _old_tile_y(lat, zoom):
    n = 2**zoom
    lat_r = F.radians(F.col(lat))
    raw = F.floor(
        (F.lit(1.0) - F.asinh(F.tan(lat_r)) / F.lit(math.pi)) / F.lit(2.0) * F.lit(float(n))
    )
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1)).cast("long")


def _old_cell_encode(lon, lat, res):
    return (
        F.lit(res).cast("long") * F.lit(1 << 58)
        + F.shiftleft(_old_tile_x(lon, res), 29)
        + _old_tile_y(lat, res)
    ).cast("long")


def _old_tile_bounds(x, y, zoom):
    n = float(2**zoom)
    x, y = F.col(x).cast("double"), F.col(y).cast("double")
    west = x / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    east = (x + F.lit(1.0)) / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    north = F.degrees(F.atan(F.sinh(F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * y / F.lit(n)))))
    south = F.degrees(
        F.atan(F.sinh(F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * (y + F.lit(1.0)) / F.lit(n))))
    )
    return [west, south, east, north]


def _old_cell_x(cell):
    return F.shiftright(F.col(cell), 29) % F.lit(1 << 29)


def _old_cell_y(cell):
    return F.col(cell) % F.lit(1 << 29)


def test_sql_text_helpers_resolve_to_the_column_formulas(spark):
    df = spark.createDataFrame([(1.0, 2.0, 3)], "lon double, lat double, cell long")
    pairs = [(cells.cell_x("cell"), _old_cell_x("cell")),
             (cells.cell_y("cell"), _old_cell_y("cell"))]
    for z in range(29):
        pairs += [
            (tiles.tile_x("lon", z), _old_tile_x("lon", z)),
            (tiles.tile_y("lat", z), _old_tile_y("lat", z)),
            (cells.cell_encode("lon", "lat", z), _old_cell_encode("lon", "lat", z)),
        ]
        pairs += zip(tiles.tile_bounds("cell", "cell", z), _old_tile_bounds("cell", "cell", z))
    cols = [c.alias(f"c{i}") for pair in pairs for i, c in [(0, pair[0]), (1, pair[1])]]
    got = df.select(*cols)._jdf.queryExecution().analyzed().projectList()
    for i in range(0, len(cols), 2):
        new, old = got.apply(i).child(), got.apply(i + 1).child()
        assert new.semanticEquals(old), (new.sql(), old.sql())

    # values at every inner z13/z14 tile-edge latitude, where the float path
    # decides the row (see np_cell_encode)
    for z in (13, 14):
        edges = tiles.np_tile_north(np.arange(1, 2**z), z)
        e = spark.createDataFrame([(float(v),) for v in edges], "lat double")
        bad = e.filter(tiles.tile_y("lat", z) != _old_tile_y("lat", z)).count()
        assert bad == 0, f"z{z}: {bad} edge latitudes differ"


def test_cell_encode_spark_vs_numpy(spark):
    lon, lat = _sample_lonlat(300, seed=11)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
    )
    got = df.select(cells.cell_encode("lon", "lat", 15).alias("c")).toPandas()["c"]
    want = cells.np_cell_encode(lon, lat, 15)
    assert (got.to_numpy() == want).all()
    # decode roundtrip
    res, x, y = cells.np_cell_decode(want)
    assert (res == 15).all()
    tx, ty = tiles.np_tile_xy(lon, lat, 15)
    assert (x == tx).all() and (y == ty).all()


def test_k_ring(spark):
    df = spark.createDataFrame([(2.35, 48.85)], "lon double, lat double")
    out = (
        df.select(cells.cell_encode("lon", "lat", 15).alias("c"))
        .select(F.col("c"), F.explode(cells.k_ring("c", 1, 15)).alias("n"))
        .toPandas()
    )
    assert len(out) == 9
    res, x, y = cells.np_cell_decode(out["n"].to_numpy())
    assert (res == 15).all()
    _, cx, cy = cells.np_cell_decode(out["c"].to_numpy())
    assert (np.abs(x - cx) <= 1).all() and (np.abs(y - cy) <= 1).all()
    assert len(set(map(tuple, np.stack([x, y], axis=1)))) == 9


def test_k_ring_antimeridian_wrap(spark):
    df = spark.createDataFrame([(-179.999, 10.0)], "lon double, lat double")
    out = (
        df.select(cells.cell_encode("lon", "lat", 10).alias("c"))
        .select(F.explode(cells.k_ring("c", 1, 10)).alias("n"))
        .toPandas()
    )
    assert len(out) == 9  # x wraps, nothing dropped
    _, x, _ = cells.np_cell_decode(out["n"].to_numpy())
    assert (x == 0).sum() == 3 and (x == (1 << 10) - 1).sum() == 3


def test_mercator_roundtrip(spark):
    lon, lat = _sample_lonlat(100, seed=3)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
    )
    out = df.select(
        mercator.inv_merc_lon(mercator.merc_x("lon")).alias("lon2"),
        mercator.inv_merc_lat(mercator.merc_y("lat")).alias("lat2"),
        "lon",
        "lat",
    ).toPandas()
    assert np.allclose(out["lon2"], out["lon"], atol=1e-9)
    assert np.allclose(out["lat2"], out["lat"], atol=1e-9)
    # numpy twins agree with column math
    mx = df.select(mercator.merc_x("lon").alias("x")).toPandas()["x"].to_numpy()
    assert np.allclose(mx, mercator.np_merc_x(lon), atol=1e-6)


def test_ring_area_centroid_known_shapes(spark):
    from pyspark.sql import functions as F

    from landlensdb_spark.geo.polygon import ring_area, ring_centroid

    rows = [
        # unit square CCW; 3-4-5 right triangle CCW; unit square CW (negative)
        (1, [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]),
        (2, [[0.0, 0.0], [3.0, 0.0], [0.0, 4.0], [0.0, 0.0]]),
        (3, [[0.0, 0.0], [0.0, 1.0], [1.0, 1.0], [1.0, 0.0], [0.0, 0.0]]),
    ]
    df = spark.createDataFrame(rows, "id long, ring array<array<double>>")
    out = {
        r["id"]: (r["a"], r["c"]["cx"], r["c"]["cy"])
        for r in df.select(
            "id",
            ring_area(F.col("ring")).alias("a"),
            ring_centroid(F.col("ring")).alias("c"),
        ).collect()
    }
    assert out[1] == (1.0, 0.5, 0.5)
    assert out[2] == (6.0, 1.0, 4.0 / 3.0)
    assert out[3][0] == -1.0  # CW ring: signed area negative, centroid same
    assert (out[3][1], out[3][2]) == (0.5, 0.5)


def test_ring_stats_degenerate_rings_yield_null(spark):
    """Empty / 1-point / unclosed-2-point rings must yield NULL stats for
    that ROW, never abort the stage with an array index error (dirty
    geometry is routine in corpus-scale polygon tables)."""
    from pyspark.sql import functions as F

    from landlensdb_spark.geo.polygon import with_shape_stats

    rows = [
        (1, []),
        (2, [[1.0, 2.0]]),
        (3, [[0.0, 0.0], [1.0, 1.0]]),
        (4, [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]),
    ]
    df = spark.createDataFrame(rows, "id long, ring array<array<double>>")
    got = {
        r["id"]: (r["area"], r["cx"], r["cy"])
        for r in with_shape_stats(df).collect()
    }
    assert got[1] == (None, None, None)
    assert got[2] == (None, None, None)
    assert got[3] == (None, None, None)
    assert got[4] == (1.0, 0.5, 0.5)  # valid rows unaffected


def test_haversine_known_values(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from landlensdb_spark.geo.sphere import R_MEAN, haversine_m, np_haversine_m

    rows = [
        (1, 0.0, 0.0, 1.0, 0.0),    # 1 deg along the equator
        (2, 10.0, 20.0, 10.0, 20.0),  # coincident
        (3, 0.0, 0.0, 180.0, 0.0),  # antipodal on the equator
        (4, 2.35, 48.86, -0.13, 51.5),  # Paris -> London, ~343.9 km
    ]
    df = spark.createDataFrame(rows, "id long, lon1 double, lat1 double, lon2 double, lat2 double")
    got = {
        r["id"]: r["d"]
        for r in df.select(
            "id",
            haversine_m(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("d"),
        ).collect()
    }
    import math
    assert abs(got[1] - math.pi * R_MEAN / 180.0) < 1e-6
    assert got[2] == 0.0
    assert abs(got[3] - math.pi * R_MEAN) < 1e-6
    assert abs(got[4] - 343_000) < 2_000  # Paris->London ballpark ~343 km
    # numpy twin agrees to fp precision
    want = np_haversine_m(
        np.array([r[1] for r in rows]), np.array([r[2] for r in rows]),
        np.array([r[3] for r in rows]), np.array([r[4] for r in rows]),
    )
    assert all(abs(got[r[0]] - w) < 1e-9 for r, w in zip(rows, want))


def test_spatial_clusters_semantics(spark):
    """Transitive chains merge (A~B~C with A!~C), singletons survive with
    size 1, and the convergence guard raises when iterations are too few
    for the component diameter."""
    import pytest
    from pyspark.sql import functions as F

    from landlensdb_spark.operators.cluster import spatial_clusters

    # ~111.32 m per 0.001 deg lon at the equator: chain at 100 m spacing,
    # plus one far-away singleton
    rows = [(1, 0.0000), (2, 0.0009), (3, 0.0018), (9, 1.0)]
    df = spark.createDataFrame(rows, "point_id long, lon double").withColumn(
        "lat", F.lit(0.0)
    )
    got = {
        r["point_id"]: (r["cluster_id"], r["cluster_size"])
        for r in spatial_clusters(df, eps_m=120.0, iterations=3).collect()
    }
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3), 9: (9, 1)}
    # 1~2~3 only via hops (1 to 3 is ~200 m > eps): diameter 2 needs >= 2
    # rounds; 1 round must raise, not silently split
    with pytest.raises(ValueError, match="did not converge"):
        spatial_clusters(df, eps_m=120.0, iterations=1)


def test_haversine_null_propagates(spark):
    """A null coordinate must yield a NULL distance — Spark's least()
    skips nulls, which silently clamped to asin(1) (half circumference)
    before the fix."""
    from pyspark.sql import functions as F

    from landlensdb_spark.geo.sphere import haversine_m

    df = spark.createDataFrame(
        [(None, None, 10.0, 20.0)], "lon1 double, lat1 double, lon2 double, lat2 double"
    )
    got = df.select(
        haversine_m(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("d")
    ).collect()[0]["d"]
    assert got is None


def test_bearing_column_matches_numpy_twin(spark):
    """geo/sphere.bearing_deg / align_heading_col must agree with the
    numpy geometry twins the snap operator uses."""
    import numpy as np
    from pyspark.sql import functions as F

    from landlensdb_spark.geo.geometry import align_heading, bearing
    from landlensdb_spark.geo.sphere import align_heading_col, bearing_deg

    rng = np.random.default_rng(11)
    lon1, lat1 = rng.uniform(-179, 179, 200), rng.uniform(-80, 80, 200)
    lon2, lat2 = rng.uniform(-179, 179, 200), rng.uniform(-80, 80, 200)
    compass = rng.uniform(0, 360, 200)
    rows = [tuple(map(float, t)) for t in zip(lon1, lat1, lon2, lat2, compass)]
    df = spark.createDataFrame(
        rows, "lon1 double, lat1 double, lon2 double, lat2 double, compass double"
    )
    b = bearing_deg(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2"))
    out = df.select(
        b.alias("b"), align_heading_col(b, F.col("compass")).alias("h")
    ).toPandas()
    want_b = bearing(lon1, lat1, lon2, lat2)
    want_h = align_heading(want_b, compass)
    assert np.allclose(out["b"], want_b, atol=1e-9)
    assert np.allclose(out["h"], want_h, atol=1e-9)


def test_align_heading_null_compass_yields_null(spark):
    from pyspark.sql import functions as F

    from landlensdb_spark.geo.sphere import align_heading_col

    df = spark.createDataFrame([(90.0, None), (90.0, 260.0)], "b double, c double")
    got = [
        r["h"]
        for r in df.select(align_heading_col(F.col("b"), F.col("c")).alias("h"))
        .collect()
    ]
    assert got[0] is None  # no confident backwards garbage on missing compass
    assert got[1] == 270.0  # reverse is closer to 260
