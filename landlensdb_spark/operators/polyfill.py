"""Hexagonal polyfill: polygon -> the set of hex cells whose center it
contains (H3's classic ``polyfill``/``polygon_to_cells`` contract).

The reference stores polygon geometries and answers containment queries
through PostGIS (/root/reference/landlensdb/geoclasses/..., db-backed
``ST_Contains``); the cell-native equivalent — and the primitive H3
deployments actually precompute — is the polygon's cell cover. At 100 TB
the polyfill output IS the join strategy: points carry their own hex cell
(:func:`landlensdb_spark.geo.hex.hex_encode`, pure column math), polygons
become (cell, id) rows via this operator, and containment collapses to a
broadcast/shuffled EQUI-join on the cell long — no geometry ever crosses
the shuffle for interior cells. It composes with the rest of the hex
family (k-rings for dilation, ``compact_cells`` for hierarchy collapse).

Center-containment semantics (exactly H3's): a cell belongs to a polygon
iff the cell's CENTER is inside, under the same half-open even-odd
ray-cast as the PIP join (:func:`landlensdb_spark.geo.geometry.
points_in_polygon`) — so adjacent polygons tile space with no cell
claimed twice and no cell dropped, and a polyfill-driven equi-join agrees
with ``pip_join`` wherever point and cell-center land in the same
polygon. It is NOT a superset cover: boundary slivers narrower than a
cell may contain points whose cell center lies outside (use ``pip_join``
for exact point containment, or dilate with a k-ring).

Distribution: one Arrow batch stage over the POLYGON table (the small
side — parallel across polygon partitions); per polygon the candidate
enumeration, center math and ray-cast are all vectorized numpy over the
bbox cover. A loud up-front estimate guard refuses polygons whose bbox
would enumerate more than ``max_cells_per_poly`` candidates (a
continent-sized ring at a street-level resolution), mirroring
``uncompact_cells``'s finer-input guard — guidance, not a silent
single-task stall.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from landlensdb_spark.geo.geometry import points_in_polygon
from landlensdb_spark.geo.hex import (
    HEX_RES,
    SQRT3,
    hex_edge_m,
    np_hex_bbox_cover,
    np_hex_center_xy,
)
from landlensdb_spark.geo.mercator import MAX_LAT, np_inv_merc, np_merc_x, np_merc_y
from landlensdb_spark.operators.multimodal import map_batches

#: refuse polygons whose bbox cover would enumerate more candidates than
#: this (raise with guidance instead of materializing a runaway array).
DEFAULT_MAX_CELLS_PER_POLY = 2_000_000


def _estimate_cover_cells(
    minlon: float, minlat: float, maxlon: float, maxlat: float, res: int
) -> int:
    """Upper-bound candidate count of the bbox cover without building it."""
    e = hex_edge_m(res)
    lats = np.clip(np.array([minlat, maxlat]), -MAX_LAT, MAX_LAT)
    x0, x1 = np_merc_x(np.array([minlon]))[0], np_merc_x(np.array([maxlon]))[0]
    y0, y1 = np_merc_y(lats[:1])[0], np_merc_y(lats[1:])[0]
    rows = (y1 - y0 + 2 * e) / (1.5 * e) + 2
    cols = (x1 - x0 + 2 * e) / (SQRT3 * e) + 2
    return int(max(rows, 0) * max(cols, 0))


def hex_polyfill(
    polys: DataFrame,
    ring_col: str = "ring",
    res: int = HEX_RES,
    cell_col: str = "cell",
    max_cells_per_poly: int = DEFAULT_MAX_CELLS_PER_POLY,
) -> DataFrame:
    """Explode each polygon row into (other columns..., ``cell_col``) rows —
    one per res-``res`` hex cell whose center the polygon contains.

    ``ring_col`` is a closed ``array<array<double>>`` lon/lat ring (the
    same shape ``synth.admin_polygons`` / the PIP join consume); the ring
    column is replaced by the cell column in the output. Polygons that
    contain no cell center (slivers smaller than a cell) produce no rows.
    """
    if ring_col not in polys.columns:
        raise ValueError(f"hex_polyfill: no column {ring_col!r} in {polys.columns}")
    keep = [c for c in polys.columns if c != ring_col]

    def _cover(ring: np.ndarray) -> np.ndarray:
        if ring.ndim != 2 or ring.shape[1] != 2 or ring.shape[0] < 4:
            raise ValueError(
                "hex_polyfill: ring must be a closed [[lon,lat],...] "
                f"list with >= 4 vertices, got shape {ring.shape}"
            )
        minlon, minlat = ring[:, 0].min(), ring[:, 1].min()
        maxlon, maxlat = ring[:, 0].max(), ring[:, 1].max()
        est = _estimate_cover_cells(minlon, minlat, maxlon, maxlat, res)
        if est > max_cells_per_poly:
            raise ValueError(
                f"hex_polyfill: polygon bbox would enumerate ~{est:,} "
                f"res-{res} candidates (> max_cells_per_poly="
                f"{max_cells_per_poly:,}). Coarsen res, split the "
                "polygon, or raise the cap deliberately."
            )
        cells = np_hex_bbox_cover(
            float(minlon), float(minlat), float(maxlon), float(maxlat), res
        )
        cx, cy = np_hex_center_xy(cells, res)
        lon, lat = np_inv_merc(cx, cy)
        return cells[points_in_polygon(lon, lat, [ring])]

    def _fill(rings):
        covers = [_cover(np.asarray(r, dtype=np.float64)) for r in rings.to_pylist()]
        idx = np.repeat(np.arange(len(covers)), [c.size for c in covers])
        return [idx, np.concatenate(covers)]

    # polygons are the small side; spread them so per-polygon numpy work
    # parallelizes instead of riding whatever partitioning the source had
    n = polys.rdd.getNumPartitions()
    src = polys if n >= 4 else polys.repartition(8)
    return map_batches(src, [ring_col], _fill, f"{cell_col} long not null", keep)


def dissolve(df: DataFrame, by: str, cell_col: str = "cell") -> DataFrame:
    """Dissolve cell covers by an attribute — the cell-indexed form of
    geopandas ``dissolve``: the union of every member polygon's cover
    with internal boundaries removed is exactly the DISTINCT cell set
    per group (``(by, cell)`` rows; footprint area in cells =
    ``count(*)`` per group). One distinct-aggregation shuffle keyed by
    (group, cell); no geometry unions, no driver work — which is the
    point at 10^12 rows, where the vector union the reference runs via
    shapely/PostGIS is the non-distributable step this replaces."""
    return df.select(by, cell_col).distinct()
