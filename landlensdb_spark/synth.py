"""Deterministic synthetic geo derivation — the Spark/SQL/numpy parity contract.

The driver's correctness gate runs each Spark query against a DuckDB oracle
over the same parquet tables, so every synthetic coordinate must be computable
identically in three places: Spark column math, ANSI SQL text, and numpy (for
pytest oracles). This module is the single source of truth: each formula is
emitted in all three forms from the same constants.

Derivations are pure integer arithmetic (exact in both engines) followed by a
single division — the resulting doubles are bit-identical across engines.
Transcendental steps (Web-Mercator ``tan``/``log``) are rounded to 1e-3 m
before any distance arithmetic so cross-engine libm last-ulp drift cannot
flip a comparison (see ``merc_rounded_*``).

Point layout mirrors FIXTURES.md: the *uniform* field exercises global
indexing/tiling; the *probe* field is a dense 0.1-degree urban window (NYC-ish)
used by snap/kNN; the road network is a deterministic street grid in the same
window (vertical streets spaced ~556 m so a 100 m snap tolerance selects at
most one — exact-geometry multi-candidate semantics are covered by the pytest
suite against a brute-force numpy oracle instead).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# -- uniform world field (lat in [-85, 85), lon in [-180, 180)) -------------
LAT_MUL = 2654435761
LAT_MOD = 170_000_000
LAT_OFF = 85_000_000
LON_MUL = 2654435789
LON_ADD = 987_654_321
LON_MOD = 360_000_000
LON_OFF = 180_000_000

# -- dense probe window (snap/kNN): [40.65, 40.75) x [-74.05, -73.95) -------
P_LAT_BASE = 40.65
P_LON_BASE = -74.05
P_LAT_MUL = 48271
P_LON_MUL = 69621
P_MOD = 100_000

# -- admin polygon grid: 32 x 32 over [-180,180] x [-85,85] -----------------
GRID_NX = 32
GRID_NY = 32
GRID_X0, GRID_X1 = -180.0, 180.0
GRID_Y0, GRID_Y1 = -85.0, 85.0
GRID_DX = (GRID_X1 - GRID_X0) / GRID_NX  # 11.25 — exact binary fraction
GRID_DY = (GRID_Y1 - GRID_Y0) / GRID_NY  # 5.3125 — exact binary fraction

# -- road network: 20 vertical streets in the probe window ------------------
N_ROADS = 20
ROAD_LON_STEP_MICRO = 5000          # 0.005 deg spacing (~556 m) + offset
ROAD_LON_OFF_MICRO = 2500
ROAD_LAT_MIN = 40.65
ROAD_LAT_MAX = 40.75

MERC_R = 6378137.0


# ---------------------------------------------------------------------------
# Spark column forms
# ---------------------------------------------------------------------------

def lat_col(key: Column) -> Column:
    """Uniform latitude from an integer key column (exact integer math)."""
    return ((key * F.lit(LAT_MUL)) % F.lit(LAT_MOD) - F.lit(LAT_OFF)) / F.lit(1_000_000.0)


def lon_col(key: Column) -> Column:
    return (
        (key * F.lit(LON_MUL) + F.lit(LON_ADD)) % F.lit(LON_MOD) - F.lit(LON_OFF)
    ) / F.lit(1_000_000.0)


def probe_lat_col(key: Column) -> Column:
    return F.lit(P_LAT_BASE) + ((key * F.lit(P_LAT_MUL)) % F.lit(P_MOD)) / F.lit(1_000_000.0)


def probe_lon_col(key: Column) -> Column:
    return F.lit(P_LON_BASE) + ((key * F.lit(P_LON_MUL)) % F.lit(P_MOD)) / F.lit(1_000_000.0)


# ---------------------------------------------------------------------------
# SQL text forms (DuckDB oracle) — same formulas, same constants
# ---------------------------------------------------------------------------

def lat_sql(key: str) -> str:
    return f"((({key} * {LAT_MUL}) % {LAT_MOD}) - {LAT_OFF}) / 1000000.0"


def lon_sql(key: str) -> str:
    return f"((({key} * {LON_MUL} + {LON_ADD}) % {LON_MOD}) - {LON_OFF}) / 1000000.0"


def probe_lat_sql(key: str) -> str:
    return f"{P_LAT_BASE} + (({key} * {P_LAT_MUL}) % {P_MOD}) / 1000000.0"


def probe_lon_sql(key: str) -> str:
    return f"{P_LON_BASE} + (({key} * {P_LON_MUL}) % {P_MOD}) / 1000000.0"


def merc_x_sql(lon: str) -> str:
    return f"round(radians({lon}) * {MERC_R!r}, 3)"


def merc_y_sql(lat: str) -> str:
    return f"round({MERC_R!r} * ln(tan(pi()/4.0 + radians({lat})/2.0)), 3)"


def tile_x_sql(lon: str, zoom: int) -> str:
    n = 2 ** zoom
    return (
        f"least(greatest(cast(floor(({lon} + 180.0) / 360.0 * {n}) as bigint), 0), {n - 1})"
    )


def tile_y_sql(lat: str, zoom: int) -> str:
    # DuckDB lacks asinh: asinh(v) = ln(v + sqrt(v*v + 1))
    v = f"tan(radians({lat}))"
    asinh = f"ln({v} + sqrt({v}*{v} + 1.0))"
    n = 2 ** zoom
    return (
        f"least(greatest(cast(floor((1.0 - {asinh}/pi()) / 2.0 * {n}) as bigint), 0), {n - 1})"
    )


def grid_admin_sql(lon: str, lat: str) -> str:
    """Oracle for the PIP grid join: closed-open [lo, hi) bins, matching the
    ray-cast half-open boundary semantics proven in tests/test_geometry.py."""
    gx = f"cast(floor(({lon} - ({GRID_X0!r})) / {GRID_DX!r}) as bigint)"
    gy = f"cast(floor(({lat} - ({GRID_Y0!r})) / {GRID_DY!r}) as bigint)"
    return f"({gx} * {GRID_NY} + {gy})"


# Parcel grid for the hex POLYFILL oracle. The admin grid above is unusable
# there: its boundaries and the hex CENTER meridians both derive from
# WORLD / 2^k, so res-6 cell centers fall EXACTLY on admin boundary lines in
# exact arithmetic (centers at multiples of 2.8125 deg lon, boundaries at
# 11.25 = 4 x 2.8125) and the half-open bin becomes float-rounding-dependent
# (numpy and DuckDB round -157.5 +/- 1 ulp to opposite sides). These parcel
# constants are deliberately NON-commensurate with the center lattice: every
# res-6 center keeps >= 0.039 deg of clearance from every parcel boundary
# (verified in tests/test_polyfill.py), so both engines agree bit-for-bit.
PARCEL_NX, PARCEL_NY = 24, 16
PARCEL_X0, PARCEL_DX = -137.19, 9.37
PARCEL_Y0, PARCEL_DY = -63.44, 6.73
PARCEL_X1 = PARCEL_X0 + PARCEL_NX * PARCEL_DX
PARCEL_Y1 = PARCEL_Y0 + PARCEL_NY * PARCEL_DY


def parcel_polygons(spark: SparkSession) -> DataFrame:
    """24x16 rectangular land parcels as explicit ring coordinate arrays —
    same generic shape as :func:`admin_polygons` (the engine does not know
    they are rectangles), offset so no hex center sits on a boundary."""
    rows = []
    for gx in range(PARCEL_NX):
        for gy in range(PARCEL_NY):
            x0 = PARCEL_X0 + gx * PARCEL_DX
            x1 = PARCEL_X0 + (gx + 1) * PARCEL_DX
            y0 = PARCEL_Y0 + gy * PARCEL_DY
            y1 = PARCEL_Y0 + (gy + 1) * PARCEL_DY
            ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
            rows.append((gx * PARCEL_NY + gy, ring))
    return spark.createDataFrame(rows, "parcel_id long, ring array<array<double>>")


def parcel_bin_sql(lon: str, lat: str) -> str:
    """Closed-open parcel bin — the ray-cast's half-open rectangle rule."""
    gx = f"cast(floor(({lon} - ({PARCEL_X0!r})) / {PARCEL_DX!r}) as bigint)"
    gy = f"cast(floor(({lat} - ({PARCEL_Y0!r})) / {PARCEL_DY!r}) as bigint)"
    return f"({gx} * {PARCEL_NY} + {gy})"


# ---------------------------------------------------------------------------
# numpy twins (pytest oracles)
# ---------------------------------------------------------------------------

def np_lat(key: np.ndarray) -> np.ndarray:
    key = np.asarray(key, dtype=np.int64)
    return ((key * LAT_MUL) % LAT_MOD - LAT_OFF) / 1_000_000.0


def np_lon(key: np.ndarray) -> np.ndarray:
    key = np.asarray(key, dtype=np.int64)
    return ((key * LON_MUL + LON_ADD) % LON_MOD - LON_OFF) / 1_000_000.0


def np_probe_lat(key: np.ndarray) -> np.ndarray:
    key = np.asarray(key, dtype=np.int64)
    return P_LAT_BASE + ((key * P_LAT_MUL) % P_MOD) / 1_000_000.0


def np_probe_lon(key: np.ndarray) -> np.ndarray:
    key = np.asarray(key, dtype=np.int64)
    return P_LON_BASE + ((key * P_LON_MUL) % P_MOD) / 1_000_000.0


# ---------------------------------------------------------------------------
# Build-side tables (small dims: grid polygons, road network)
# ---------------------------------------------------------------------------

def admin_polygons(spark: SparkSession) -> DataFrame:
    """32x32 rectangular admin polygons as explicit ring coordinate arrays.

    Shape: (admin_id long, name string, ring array<array<double>>) — the ring
    is a closed [[x,y],...] list, consumed by the generic ray-cast PIP join
    (the engine does NOT know these are rectangles).
    """
    rows = []
    for gx in range(GRID_NX):
        for gy in range(GRID_NY):
            x0 = GRID_X0 + gx * GRID_DX
            x1 = GRID_X0 + (gx + 1) * GRID_DX
            y0 = GRID_Y0 + gy * GRID_DY
            y1 = GRID_Y0 + (gy + 1) * GRID_DY
            ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
            rows.append((gx * GRID_NY + gy, f"admin_{gx}_{gy}", ring))
    return spark.createDataFrame(
        rows, "admin_id long, name string, ring array<array<double>>"
    )


def road_lon_micro(j: int) -> int:
    """Integer micro-degree offset of street j from P_LON_BASE."""
    return j * ROAD_LON_STEP_MICRO + ROAD_LON_OFF_MICRO


def road_network(spark: SparkSession) -> DataFrame:
    """Deterministic street grid: N_ROADS vertical 2-vertex LineStrings.

    Shape: (line_id long, coords array<array<double>>, highway string) in
    lon/lat degrees; the snap operator projects to EPSG:3857 internally.
    """
    rows = []
    for j in range(N_ROADS):
        lon = P_LON_BASE + road_lon_micro(j) / 1_000_000.0
        coords = [[lon, ROAD_LAT_MIN], [lon, ROAD_LAT_MAX]]
        rows.append((j, coords, "residential"))
    return spark.createDataFrame(
        rows, "line_id long, coords array<array<double>>, highway string"
    )


def roads_sql_cte() -> str:
    """The same road network as an inline SQL relation of 2-vertex segments:
    (line_id, x0, y0, x1, y1) in rounded EPSG:3857 meters."""
    lon = f"({P_LON_BASE!r} + (j * {ROAD_LON_STEP_MICRO} + {ROAD_LON_OFF_MICRO}) / 1000000.0)"
    return (
        f"SELECT j AS line_id, {merc_x_sql(lon)} AS x0, {merc_y_sql(repr(ROAD_LAT_MIN))} AS y0, "
        f"{merc_x_sql(lon)} AS x1, {merc_y_sql(repr(ROAD_LAT_MAX))} AS y1 "
        f"FROM (SELECT unnest(range({N_ROADS})) AS j)"
    )


# ---------------------------------------------------------------------------
# Synthetic MVT coverage tiles (S4 fixtures)
# ---------------------------------------------------------------------------

MVT_N_TILES = 64
MVT_FEATS_PER_TILE = 20
MVT_TILE_X0, MVT_TILE_Y0, MVT_ZOOM = 4823, 6160, 14
MVT_CAP_BASE, MVT_CAP_STEP = 1_600_000_000_000, 977


def mvt_tiles(spark: SparkSession) -> DataFrame:
    """64 deterministic z14 coverage tiles, 20 point features each, encoded
    to real MVT wire bytes. Feature i (global) sits at tile-local
    ``((i*137+11) % 4096, (i*211+23) % 4096)`` with id ``i*7+3`` and
    ``captured_at = 1.6e12 + i*977`` — integer formulas a SQL oracle can
    recompute exactly."""
    from landlensdb_spark.operators.mvt import encode_mvt

    rows = []
    for t in range(MVT_N_TILES):
        feats = []
        for f in range(MVT_FEATS_PER_TILE):
            i = t * MVT_FEATS_PER_TILE + f
            feats.append(
                {
                    "id": i * 7 + 3,
                    "points": [((i * 137 + 11) % 4096, (i * 211 + 23) % 4096)],
                    "props": {"captured_at": MVT_CAP_BASE + i * MVT_CAP_STEP},
                }
            )
        rows.append(
            (
                MVT_ZOOM,
                MVT_TILE_X0 + t % 8,
                MVT_TILE_Y0 + t // 8,
                encode_mvt({"image": {"extent": 4096, "features": feats}}),
            )
        )
    return spark.createDataFrame(
        rows, "tile_z int, tile_x long, tile_y long, content binary"
    )
