"""Hexagonal cell index (H3-style semantics) as pure Spark column math.

The reference's spatial indexing contract is cell-based (SURVEY.md §7):
points get sortable long keys, joins become equi-joins on the key. The
square Morton grid (``geo/cells.py``) fills the "H3 slot" with H3-like
cell SIZES; this module adds real HEXAGONAL semantics — uniform 6-cell
neighborhoods, isotropic k-rings (3k(k+1)+1 cells instead of (2k+1)^2),
and a true hex distance metric — the properties H3 is actually chosen for
in kNN/ring workloads. Everything is Catalyst column math (floor/abs/CASE
arithmetic, no UDF, stays inside whole-stage codegen), with numpy twins
for use inside exact-refinement pandas UDFs.

Construction (standard axial/cube hex grid, public algorithm — the
pointy-top axial mapping and cube-rounding are textbook hex-grid math):

1. project to EPSG:3857 meters (same projection the join operators use);
2. fractional axial coords ``fq = (x*sqrt(3)/3 - y/3)/e``,
   ``fr = (2/3)*y/e`` for edge length ``e``;
3. cube-round to the containing hex: round each of (fq, fy=-fq-fr, fr)
   with ``floor(v + 0.5)`` and repair the axis with the largest rounding
   error so q + y + r == 0 stays true;
4. pack ``(res << 58) | ((q + 2^28) << 29) | (r + 2^28)`` — the same
   sortable-long layout as ``cell_encode``, so hex cells drop into every
   cell-keyed operator (equi-join, groupBy, range pruning) unchanged.

Resolution ladder: ``edge(res) = WORLD / (2^res * sqrt(3))`` — a res-r hex
has the row pitch of a zoom-r slippy tile. res 17 has edge ~176.5 m,
matching H3 res 9 (~174.4 m edge), the north star's indexing resolution.

Like the kNN grid (operators/knn.py), axial q does NOT wrap at the
antimeridian: the hex plane is unwrapped mercator, matching the planar
distance metric of the join operators; ring neighbors that would leave
the packed coordinate range come back NULL and are compacted away.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from landlensdb_spark.geo.mercator import R, merc_x, merc_y, np_merc_x, np_merc_y

WORLD = 2.0 * math.pi * R
SQRT3 = math.sqrt(3.0)

#: default hex resolution — edge ~176.5 m, the H3 res-9 ballpark the north
#: star indexes at.
HEX_RES = 17

_RES_SHIFT = 58
_Q_SHIFT = 29
_BIAS = 1 << 28
_FIELD = 1 << 29


def hex_edge_m(res: int) -> float:
    """Edge length in EPSG:3857 meters of a res-``res`` hex."""
    return WORLD / ((1 << res) * SQRT3)


#: half-extent of the mercator square: |x|, |y| <= pi*R (y reaches it at
#: MAX_LAT, x at lon 180).
MAX_MERC = math.pi * R


def _clamped(v: Column) -> Column:
    """Clamp a mercator coordinate into [-MAX_MERC, MAX_MERC]; NaN -> NULL."""
    return F.when(
        ~F.isnan(v), F.least(F.greatest(v, F.lit(-MAX_MERC)), F.lit(MAX_MERC))
    )


def _axial_round(fq: Column, fr: Column) -> tuple[Column, Column]:
    """Cube-round fractional axial coords to the containing hex (columns)."""
    fy = -fq - fr
    rx = F.floor(fq + F.lit(0.5))
    ry = F.floor(fy + F.lit(0.5))
    rz = F.floor(fr + F.lit(0.5))
    dx = F.abs(rx.cast("double") - fq)
    dy = F.abs(ry.cast("double") - fy)
    dz = F.abs(rz.cast("double") - fr)
    q = F.when((dx > dy) & (dx > dz), -ry - rz).otherwise(rx)
    r = F.when((dx > dy) & (dx > dz), rz).when(dy > dz, rz).otherwise(-rx - ry)
    return q, r


def hex_encode(
    lon: Column | str, lat: Column | str, res: int = HEX_RES
) -> Column:
    """Point -> sortable long hex cell id. Pure column math (no UDF)."""
    if not 0 <= res <= 28:
        raise ValueError(f"res must be in [0, 28], got {res}")
    e = hex_edge_m(res)
    # clamp both axes into the mercator square (same convention as
    # tile_x/tile_y): lat 90 is y = +inf in doubles, which would otherwise
    # corrupt the whole packing (floor(inf) has no long value under ANSI).
    # The NaN guard is explicit because Spark orders NaN ABOVE +inf, so a
    # bare least/greatest would clamp NaN coords to the square's edge
    # instead of propagating NULL.
    x = _clamped(merc_x(lon))
    y = _clamped(merc_y(lat))
    fq = (x * F.lit(SQRT3 / 3.0) - y / F.lit(3.0)) / F.lit(e)
    fr = (y * F.lit(2.0 / 3.0)) / F.lit(e)
    q, r = _axial_round(fq, fr)
    # belt-and-suspenders field clamp (inside the square the coords always
    # fit the 29-bit fields at every res <= 28). greatest/least SKIP nulls
    # (they return the non-null operand), so the clamp must be gated or a
    # NaN-coord row would resurrect as a valid edge cell instead of NULL.
    q = F.when(
        q.isNotNull(), F.least(F.greatest(q, F.lit(-_BIAS)), F.lit(_BIAS - 1))
    )
    r = F.when(
        r.isNotNull(), F.least(F.greatest(r, F.lit(-_BIAS)), F.lit(_BIAS - 1))
    )
    return (
        F.lit(res).cast("long") * F.lit(1 << _RES_SHIFT)
        + (q + F.lit(_BIAS)) * F.lit(1 << _Q_SHIFT)
        + (r + F.lit(_BIAS))
    ).cast("long")


def hex_q(cell: Column | str) -> Column:
    cell = F.col(cell) if isinstance(cell, str) else cell
    return F.shiftright(cell, _Q_SHIFT) % F.lit(_FIELD) - F.lit(_BIAS)


def hex_r(cell: Column | str) -> Column:
    cell = F.col(cell) if isinstance(cell, str) else cell
    return cell % F.lit(_FIELD) - F.lit(_BIAS)


def hex_res(cell: Column | str) -> Column:
    cell = F.col(cell) if isinstance(cell, str) else cell
    return F.shiftright(cell, _RES_SHIFT)


def hex_dist(a: Column | str, b: Column | str) -> Column:
    """Hex (grid) distance between two SAME-RES cells: the number of hex
    steps, ``(|dq| + |dr| + |dq+dr|) / 2``. Column math."""
    dq = hex_q(a) - hex_q(b)
    dr = hex_r(a) - hex_r(b)
    return (F.abs(dq) + F.abs(dr) + F.abs(dq + dr)) / F.lit(2)


def hex_kring(cell: Column | str, k: int) -> Column:
    """Array of the 3k(k+1)+1 hex cells within hex distance ``k`` — the
    isotropic ring-expansion primitive (square k_ring scans (2k+1)^2 cells
    for the same reach). Offsets are plan-time literals; neighbors whose
    packed coordinate would leave its 29-bit field come back NULL and are
    compacted away (unwrapped plane, see module docstring)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    q, r = hex_q(cell), hex_r(cell)
    out = []
    for dq in range(-k, k + 1):
        for dr in range(-k, k + 1):
            if abs(dq + dr) > k:
                continue
            nq = q + F.lit(dq) + F.lit(_BIAS)
            nr = r + F.lit(dr) + F.lit(_BIAS)
            out.append(
                F.when(
                    (nq >= 0) & (nq < _FIELD) & (nr >= 0) & (nr < _FIELD),
                    cell + F.lit(dq * (1 << _Q_SHIFT) + dr),
                )
            )
    return F.array_compact(F.array(*out))


# ---------------------------------------------------------------------------
# numpy twins (identical formulas/packing, for pandas-UDF refinement stages)
# ---------------------------------------------------------------------------


def np_hex_encode(
    lon: np.ndarray, lat: np.ndarray, res: int = HEX_RES
) -> np.ndarray:
    e = hex_edge_m(res)
    # same mercator-square clamp as the column twin (handles lat ±90's
    # infinite y); NaN coords are a documented precondition violation here
    x = np.clip(np_merc_x(lon), -MAX_MERC, MAX_MERC)
    y = np.clip(np_merc_y(lat), -MAX_MERC, MAX_MERC)
    fq = (x * (SQRT3 / 3.0) - y / 3.0) / e
    fr = (y * (2.0 / 3.0)) / e
    fy = -fq - fr
    rx = np.floor(fq + 0.5)
    ry = np.floor(fy + 0.5)
    rz = np.floor(fr + 0.5)
    dx, dy, dz = np.abs(rx - fq), np.abs(ry - fy), np.abs(rz - fr)
    fix_x = (dx > dy) & (dx > dz)
    q = np.where(fix_x, -ry - rz, rx)
    r = np.where(fix_x, rz, np.where(dy > dz, rz, -rx - ry))
    # same field clamp as the column twin (see hex_encode); NaN coords are a
    # documented precondition violation on the numpy path
    q = np.clip(q, -_BIAS, _BIAS - 1).astype(np.int64)
    r = np.clip(r, -_BIAS, _BIAS - 1).astype(np.int64)
    return (np.int64(res) << _RES_SHIFT) + ((q + _BIAS) << _Q_SHIFT) + (r + _BIAS)


def np_hex_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> _RES_SHIFT
    q = ((cell >> _Q_SHIFT) % _FIELD) - _BIAS
    r = (cell % _FIELD) - _BIAS
    return res, q, r


def np_hex_center_xy(cell: np.ndarray, res: int = HEX_RES) -> tuple[np.ndarray, np.ndarray]:
    e = hex_edge_m(res)
    _, q, r = np_hex_decode(cell)
    return e * (SQRT3 * q + (SQRT3 / 2.0) * r), e * 1.5 * r


def np_hex_bbox_cover(
    minlon: float, minlat: float, maxlon: float, maxlat: float, res: int = HEX_RES
) -> np.ndarray:
    """All hex cells intersecting a lon/lat bbox — superset cover (cells
    whose center lies within the bbox expanded by the circumradius e;
    exactness comes from downstream refinement, same contract as
    cells.np_bbox_cover). Row-major enumeration: the q range shifts by
    -r/2 per row in axial coords."""
    e = hex_edge_m(res)
    x0 = float(np.clip(np_merc_x(np.array([minlon]))[0], -MAX_MERC, MAX_MERC)) - e
    x1 = float(np.clip(np_merc_x(np.array([maxlon]))[0], -MAX_MERC, MAX_MERC)) + e
    y0 = float(np.clip(np_merc_y(np.array([minlat]))[0], -MAX_MERC, MAX_MERC)) - e
    y1 = float(np.clip(np_merc_y(np.array([maxlat]))[0], -MAX_MERC, MAX_MERC)) + e
    r0 = int(math.floor(y0 / (1.5 * e)))
    r1 = int(math.ceil(y1 / (1.5 * e)))
    qs, rs = [], []
    for r in range(r0, r1 + 1):
        qa = int(math.floor(x0 / (SQRT3 * e) - r / 2.0))
        qb = int(math.ceil(x1 / (SQRT3 * e) - r / 2.0))
        q = np.arange(qa, qb + 1, dtype=np.int64)
        qs.append(q)
        rs.append(np.full(q.shape, r, dtype=np.int64))
    q = np.clip(np.concatenate(qs), -_BIAS, _BIAS - 1)
    r = np.clip(np.concatenate(rs), -_BIAS, _BIAS - 1)
    return (np.int64(res) << _RES_SHIFT) + ((q + _BIAS) << _Q_SHIFT) + (r + _BIAS)
