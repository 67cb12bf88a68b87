"""Point-in-timezone localization — the engine's own PIP join, dogfooded.

The reference resolves each point's IANA zone with timezonefinder and
renders captured_at in that zone (/root/reference/landlensdb/handlers/
image.py:352-366, cloud.py:1047-1074). timezonefinder isn't in this
container and the full tz-boundary polygon set isn't shippable, so this
module provides:

- a COARSE public-geography zone fixture (:data:`TZ_ZONES`): ~a dozen
  disjoint rectangles over major population centers with their STANDARD
  utc offsets (no DST — documented simplification; swap in the real
  tz-boundary polygon table and zoneinfo offsets in production, the
  operator shape is unchanged). Includes half-hour zones (Asia/Kolkata
  +5:30, Australia/Adelaide +9:30) the nautical fallback can never get
  right.
- :func:`with_timezone` — a PIP join against the zone polygons (the same
  generic ray-cast operator the admin joins use; the engine does NOT know
  the fixtures are rectangles), with the nautical ``Etc/GMT±N`` rule as
  the ocean/elsewhere fallback (functions.py F7/F8).
- :func:`local_iso_col` — minute-precision ISO-8601 rendering
  (``±HH:MM`` suffix, ``Z`` at zero), pure column math.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from landlensdb_spark.functions import nautical_offset_hours, tz_name_for
from landlensdb_spark.operators.pip_join import pip_join
from landlensdb_spark.session import local_frame

#: (tz_id, iana_name, standard_offset_minutes, west, south, east, north) —
#: deliberately disjoint rectangles (coarse; standard time only).
TZ_ZONES: list[tuple[int, str, int, float, float, float, float]] = [
    (0, "America/Los_Angeles", -480, -124.5, 32.5, -114.0, 49.0),
    (1, "America/Chicago", -360, -102.0, 29.0, -87.5, 49.0),
    (2, "America/New_York", -300, -80.5, 38.5, -71.5, 45.0),
    (3, "Europe/London", 0, -8.0, 49.9, 1.5, 59.0),
    (4, "Europe/Paris", 60, -4.5, 42.3, 8.2, 49.8),
    (5, "Asia/Kolkata", 330, 68.0, 6.0, 89.0, 36.0),
    (6, "Asia/Shanghai", 480, 89.5, 18.0, 127.0, 54.0),
    (7, "Asia/Tokyo", 540, 129.0, 30.0, 146.0, 46.0),
    (8, "Australia/Adelaide", 570, 129.0, -38.0, 140.9, -26.0),
    (9, "Australia/Sydney", 600, 141.0, -39.0, 154.0, -28.0),
    (10, "America/Sao_Paulo", -180, -53.0, -25.5, -40.0, -19.0),
    (11, "Africa/Cairo", 120, 25.0, 22.0, 35.0, 31.7),
]


@functools.cache
def tz_table(spark: SparkSession) -> DataFrame:
    """Zone fixture as generic PIP polygons: (tz_id, tz_name, offset_min,
    ring) — closed [[lon,lat],...] rings like every other polygon table.
    One frame per session, so every :func:`with_timezone` shares one
    broadcast instead of evicting earlier frames' (broadcast_dim.BOUND)."""
    rows = []
    for tz_id, name, off, w, s, e, n in TZ_ZONES:
        ring = [[w, s], [e, s], [e, n], [w, n], [w, s]]
        rows.append((tz_id, name, off, ring))
    return local_frame(
        spark, rows, "tz_id long, tz_name string, offset_min long, ring array<array<double>>"
    )


def zones_sql_values() -> str:
    """The SAME fixture as a DuckDB VALUES list (oracle reproduces the zone
    assignment with the PIP half-open rule: >= west/south, < east/north)."""
    return ", ".join(
        f"({tz_id}, '{name}', {off}, {w!r}, {s!r}, {e!r}, {n!r})"
        for tz_id, name, off, w, s, e, n in TZ_ZONES
    )


def local_iso_col(ts: Column | str, offset_min: Column) -> Column:
    """UTC timestamp + minute offset -> ISO-8601 local string (±HH:MM)."""
    ts = F.col(ts) if isinstance(ts, str) else ts
    local = F.timestamp_millis(F.unix_millis(ts) + offset_min * F.lit(60000))
    hh = F.lpad((F.abs(offset_min) / 60).cast("int").cast("string"), 2, "0")
    mm = F.lpad((F.abs(offset_min) % 60).cast("string"), 2, "0")
    suffix = F.when(offset_min == 0, F.lit("Z")).otherwise(
        F.concat(
            F.when(offset_min > 0, F.lit("+")).otherwise(F.lit("-")), hh, F.lit(":"), mm
        )
    )
    return F.concat(F.date_format(local, "yyyy-MM-dd'T'HH:mm:ss"), suffix)


def with_timezone(
    df: DataFrame,
    key_cols: list[str],
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    zones: DataFrame | None = None,
) -> DataFrame:
    """Attach ``tz_name`` / ``offset_min`` / ``local_iso`` to every row.

    Zone hits come from the generic PIP join (one Arrow map over the
    rows, broadcast zone polygons, zero point shuffle); rows outside every
    zone polygon get the nautical fallback (``Etc/GMT±N`` from
    round(lon/15), the reference's behavior when timezonefinder returns
    None). ``key_cols`` must uniquely identify rows (the fallback is a
    left_anti join on them). The fixture rectangles are disjoint, so a row
    matches at most one zone.
    """
    spark = df.sparkSession
    z = zones if zones is not None else tz_table(spark)
    matched = pip_join(
        df, z, lon=lon, lat=lat, polygon_id="tz_id",
        keep_polygon_cols=["tz_name", "offset_min"],
    ).drop("tz_id")
    fallback = df.join(matched.select(*key_cols), key_cols, "left_anti")
    off_h = nautical_offset_hours(F.col(lon))
    fallback = fallback.withColumn("tz_name", tz_name_for(F.col(lon))).withColumn(
        "offset_min", (off_h * 60).cast("long")
    )
    out = matched.unionByName(fallback)
    return out.withColumn("local_iso", local_iso_col(ts, F.col("offset_min")))
