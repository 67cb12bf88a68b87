"""EPSG:4326 <-> EPSG:3857 (Web Mercator) as Spark column math and numpy.

The reference reprojects both join sides to EPSG:3857 and measures planar
distances there (/root/reference/landlensdb/process/snap.py:190,201,216); we
reproduce the same projection so join outputs match. Implemented twice with
identical formulas:

- Column expressions (JVM-side, whole-stage codegen, no Python) for the
  DataFrame fast path.
- Vectorized numpy for use inside exact-refinement pandas UDFs.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

#: WGS84 spherical-mercator earth radius used by EPSG:3857.
R = 6378137.0
#: Max latitude representable in Web Mercator (same clamp as slippy tiles).
MAX_LAT = 85.05112878


def merc_x(lon: Column | str) -> Column:
    """EPSG:3857 x (meters) from longitude degrees. Pure column math."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    return F.radians(lon) * F.lit(R)


def merc_y(lat: Column | str) -> Column:
    """EPSG:3857 y (meters) from latitude degrees. Pure column math."""
    lat = F.col(lat) if isinstance(lat, str) else lat
    return F.lit(R) * F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / 2))


def inv_merc_lon(x: Column | str) -> Column:
    """Longitude degrees from EPSG:3857 x."""
    x = F.col(x) if isinstance(x, str) else x
    return F.degrees(x / F.lit(R))


def inv_merc_lat(y: Column | str) -> Column:
    """Latitude degrees from EPSG:3857 y."""
    y = F.col(y) if isinstance(y, str) else y
    return F.degrees(F.lit(2.0) * F.atan(F.exp(y / F.lit(R))) - F.lit(math.pi / 2.0))


def np_merc_x(lon: np.ndarray) -> np.ndarray:
    """numpy twin of :func:`merc_x` (same formula, same constants)."""
    return np.radians(np.asarray(lon, dtype=np.float64)) * R


def np_merc_y(lat: np.ndarray) -> np.ndarray:
    """numpy twin of :func:`merc_y`."""
    lat = np.asarray(lat, dtype=np.float64)
    # log(0) at the south pole is an intended -inf; callers clip it
    with np.errstate(divide="ignore"):
        return R * np.log(np.tan(math.pi / 4.0 + np.radians(lat) / 2.0))


def np_inv_merc(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """numpy inverse: (x, y) meters -> (lon, lat) degrees."""
    lon = np.degrees(np.asarray(x, dtype=np.float64) / R)
    lat = np.degrees(2.0 * np.arctan(np.exp(np.asarray(y, dtype=np.float64) / R)) - math.pi / 2.0)
    return lon, lat
