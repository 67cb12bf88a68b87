"""Slippy-map XYZ tile + quadkey math as pure Spark column expressions.

The tile formulas are the semantic contract with the reference — its
``_bbox_to_tile_coords`` (/root/reference/landlensdb/handlers/cloud.py:860-887):

    x = int((lon + 180) / 360 * 2**z)
    y = int((1 - asinh(tan(radians(lat))) / pi) / 2 * 2**z)

and the inverse ``_tile_to_bbox`` (cloud.py:889-911):

    west = x / n * 360 - 180
    lat  = degrees(atan(sinh(pi * (1 - 2 * y / n))))

Everything here is JVM-side column math inside whole-stage codegen — no UDF.
``tile_x``, ``tile_y``, ``tile_bounds`` and ``quadkey`` are SQL text
(``F.expr``, parsed once on the JVM, not one py4j call per Column node);
their arguments are column names or SQL text. Double constants carry the
``D`` suffix: a bare ``180.0`` parses as DECIMAL.
The quadkey (bit-interleave of x,y) gives a single sortable long per tile so
tile tables can be range-partitioned / sorted for locality.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

#: Reference coverage-tile zoom (cloud.py:86).
ZOOM_LEVEL = 14


def _tile_x_sql(lon: str, zoom: int) -> str:
    n = 2**zoom
    raw = f"floor((({lon}) + 180.0D) / 360.0D * {float(n)!r}D)"
    return f"cast(least(greatest({raw}, 0), {n - 1}) as bigint)"


def _tile_y_sql(lat: str, zoom: int) -> str:
    n = 2**zoom
    raw = f"floor((1.0D - asinh(tan(radians({lat}))) / {math.pi!r}D) / 2.0D * {float(n)!r}D)"
    return f"cast(least(greatest({raw}, 0), {n - 1}) as bigint)"


def tile_x(lon: str, zoom: int = ZOOM_LEVEL) -> Column:
    """Slippy tile x — exact reference formula (cloud.py:869), clamped to [0, n-1]."""
    return F.expr(_tile_x_sql(lon, zoom))


def tile_y(lat: str, zoom: int = ZOOM_LEVEL) -> Column:
    """Slippy tile y — exact reference formula (cloud.py:870-873), clamped."""
    return F.expr(_tile_y_sql(lat, zoom))


def tile_bounds(x: str, y: str, zoom: int = ZOOM_LEVEL) -> list[Column]:
    """Inverse: tile -> (west, south, east, north) degrees (cloud.py:889-911)."""
    n = f"{float(2**zoom)!r}D"
    x, y = f"cast({x} as double)", f"cast({y} as double)"
    lon = lambda v: F.expr(f"{v} / {n} * 360.0D - 180.0D")  # noqa: E731
    lat = lambda v: F.expr(  # noqa: E731
        f"degrees(atan(sinh({math.pi!r}D * (1.0D - 2.0D * {v} / {n}))))"
    )
    return [lon(x), lat(f"({y} + 1.0D)"), lon(f"({x} + 1.0D)"), lat(y)]


def quadkey(x: str, y: str, zoom: int = ZOOM_LEVEL) -> Column:
    """Sortable long quadkey of the columns named ``x``, ``y``: zoom in the
    top 6 bits, Morton(x, y) below.

    Bit-interleave via a shift-add chain (JVM-side, codegen-friendly): for
    each bit position b of x and y, place x-bit at 2b+1 and y-bit at 2b
    (Bing-maps quadkey digit order: digit = 2*xbit + ybit reading from the
    high bit). The chain is one SQL expression, parsed once on the JVM,
    rather than ~8 py4j Column calls per bit.
    """
    xb, yb = f"cast(`{x}` as bigint)", f"cast(`{y}` as bigint)"
    morton = "cast(0 as bigint)" + "".join(
        f" + shiftleft(shiftright({xb}, {b}) % 2, {2 * b + 1})"
        f" + shiftleft(shiftright({yb}, {b}) % 2, {2 * b})"
        for b in range(zoom)
    )
    return F.expr(
        f"cast(cast({zoom} as bigint) * {1 << 58} + ({morton}) as bigint)"
    )


def with_tile(df, lon: str = "lon", lat: str = "lat", zoom: int = ZOOM_LEVEL):
    """Attach tile_z / tile_x / tile_y / quadkey columns (pure column math)."""
    return df.withColumns(
        {"tile_z": F.lit(zoom), "tile_x": tile_x(lon, zoom), "tile_y": tile_y(lat, zoom)}
    ).withColumn("quadkey", quadkey("tile_x", "tile_y", zoom))


# ---------------------------------------------------------------------------
# numpy twins (used by oracles in tests and by cell covers)
# ---------------------------------------------------------------------------

def np_tile_xy(lon: np.ndarray, lat: np.ndarray, zoom: int = ZOOM_LEVEL):
    """Vectorized numpy twin of tile_x/tile_y — the golden oracle formula."""
    n = 2 ** zoom
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.floor((lon + 180.0) / 360.0 * n)
    y = np.floor((1.0 - np.arcsinh(np.tan(np.radians(lat))) / math.pi) / 2.0 * n)
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    return x, y


def np_tile_west(x: np.ndarray, zoom: int) -> np.ndarray:
    """West edge longitude of tile column ``x`` (inverse Mercator,
    cloud.py:889-911). Pass x+1 for the east edge."""
    n = float(2**zoom)
    return np.asarray(x, dtype=np.float64) / n * 360.0 - 180.0


def np_tile_north(y: np.ndarray, zoom: int) -> np.ndarray:
    """North edge latitude of tile row ``y``. Pass y+1 for the south edge."""
    n = float(2**zoom)
    return np.degrees(
        np.arctan(np.sinh(math.pi * (1.0 - 2.0 * np.asarray(y, dtype=np.float64) / n)))
    )


def np_quadkey(x: np.ndarray, y: np.ndarray, zoom: int = ZOOM_LEVEL) -> np.ndarray:
    """Vectorized numpy twin of :func:`quadkey`."""
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    morton = np.zeros_like(x)
    for b in range(zoom):
        morton |= (((x >> b) & 1) << (2 * b + 1)) | (((y >> b) & 1) << (2 * b))
    return (np.int64(zoom) << 58) + morton
