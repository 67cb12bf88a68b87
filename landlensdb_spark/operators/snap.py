"""Snap-to-network join: within-distance candidates -> nearest-1 -> interpolate.

Reproduces the semantics of the reference's ``snap_to_road_network``
(/root/reference/landlensdb/process/snap.py:157-251) as a distributed,
fully-vectorized operator:

- distances in EPSG:3857 meters (snap.py:190,201),
- candidate = probe bbox ±tolerance against segment bounds (snap.py:203-204),
- keep ``dist <= tolerance`` (snap.py:216-217),
- nearest-1 with the reference's stable tie-break: min by (dist, line order)
  (sort + group-first, snap.py:218-221),
- snapped point by linear referencing (project + interpolate,
  snap.py:223-224), back-projected to 4326 (snap.py:226-227),
- unmatched points kept with NULL snap columns (snap.py:230-239),
- optional compass realignment: nearest-segment bearing vs compass, pick
  forward/reverse (snap.py:241-249 -> _get_heading :147-153).

Spark shape: the (small) network is flattened driver-side into plain numpy
segment arrays and broadcast; each executor lazily builds a mercator-grid
bucket table over segment bboxes (the R-tree stand-in, snap.py:19-31), kept
sorted by cell key. The point side is processed in one Arrow pass
(``multimodal.map_batches``): each point finds its cell's bucket range with
a ``searchsorted`` probe, the candidate pairs expand with ``np.repeat`` (the
pair expansion of snap.py:206-211, but C-speed), and ALL pair distances are
computed in one vectorized call. The input columns ride through as Arrow
arrays, never pandas. No shuffle at all: the job is scan -> mapInArrow ->
sink.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landlensdb_spark.broadcast_dim import broadcast_dim, worker_state
from landlensdb_spark.geo.geometry import bearing, point_segment_t
from landlensdb_spark.geo.mercator import R, np_inv_merc, np_merc_x, np_merc_y
from landlensdb_spark.geo.sphere import align_heading_col
from landlensdb_spark.operators.multimodal import map_batches

WORLD = 2.0 * math.pi * R  # mercator world width in meters


def _flatten_network(rows) -> dict[str, np.ndarray]:
    """(line_id, coords[[lon,lat],...]) rows -> flat per-segment arrays in
    3857 meters + lon/lat endpoints (for great-circle bearings) + cumulative
    arc positions (linear referencing measure base)."""
    xs0, ys0, xs1, ys1 = [], [], [], []
    lon0, lat0, lon1, lat1 = [], [], [], []
    line_ids, cum0 = [], []
    for line_id, coords in rows:
        c = np.asarray(coords, dtype=np.float64)
        if len(c) < 2:
            continue
        mx = np_merc_x(c[:, 0])
        my = np_merc_y(c[:, 1])
        seg_len = np.sqrt((mx[1:] - mx[:-1]) ** 2 + (my[1:] - my[:-1]) ** 2)
        cum = np.concatenate([[0.0], np.cumsum(seg_len)])[:-1]
        xs0.append(mx[:-1]); ys0.append(my[:-1])
        xs1.append(mx[1:]); ys1.append(my[1:])
        lon0.append(c[:-1, 0]); lat0.append(c[:-1, 1])
        lon1.append(c[1:, 0]); lat1.append(c[1:, 1])
        line_ids.append(np.full(len(c) - 1, line_id, dtype=np.int64))
        cum0.append(cum)
    return {
        "x0": np.concatenate(xs0), "y0": np.concatenate(ys0),
        "x1": np.concatenate(xs1), "y1": np.concatenate(ys1),
        "lon0": np.concatenate(lon0), "lat0": np.concatenate(lat0),
        "lon1": np.concatenate(lon1), "lat1": np.concatenate(lat1),
        "line_id": np.concatenate(line_ids), "cum0": np.concatenate(cum0),
    }


def _grid_res_for_tolerance(tolerance_m: float) -> int:
    """Finest mercator-grid res whose cell side >= 2*tolerance, so a probe
    bbox (side 2*tol) intersects at most 2 cells per axis."""
    res = int(math.floor(math.log2(WORLD / (2.0 * tolerance_m))))
    return max(1, min(res, 28))


def _bucket_segments(
    net: dict[str, np.ndarray], res: int, tol: float
) -> tuple[np.ndarray, np.ndarray]:
    """Bucket table ``(cell_key, seg_idx)`` of segment bboxes, stable-sorted
    by ``cell_key`` (so ``seg_idx`` ascends within a cell) for the
    ``searchsorted`` probe. Fully vectorized (no per-segment Python loop —
    this runs once per executor worker and its cost is pure fixed
    overhead)."""
    cell = WORLD / (1 << res)
    minx = np.minimum(net["x0"], net["x1"]) - tol
    maxx = np.maximum(net["x0"], net["x1"]) + tol
    miny = np.minimum(net["y0"], net["y1"]) - tol
    maxy = np.maximum(net["y0"], net["y1"]) + tol
    cx0 = np.floor((minx + WORLD / 2) / cell).astype(np.int64)
    cx1 = np.floor((maxx + WORLD / 2) / cell).astype(np.int64)
    cy0 = np.floor((miny + WORLD / 2) / cell).astype(np.int64)
    cy1 = np.floor((maxy + WORLD / 2) / cell).astype(np.int64)
    nx = cx1 - cx0 + 1
    ny = cy1 - cy0 + 1
    counts = nx * ny
    total = int(counts.sum())
    seg_idx = np.repeat(np.arange(len(cx0), dtype=np.int64), counts)
    # local rank of each emitted cell within its segment's nx*ny grid
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    local = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    gx = cx0[seg_idx] + local % nx[seg_idx]
    gy = cy0[seg_idx] + local // nx[seg_idx]
    cell_key = (gx << 28) | gy
    order = np.argsort(cell_key, kind="stable")
    return cell_key[order], seg_idx[order]


def _network_prep(
    network: DataFrame,
    line_id_col: str,
    coords_col: str,
    tolerance_m: float,
    round_merc: int | None,
) -> tuple:
    """Driver-side broadcast payload: flat segments + snap params."""
    net = _flatten_network(network.select(line_id_col, coords_col).collect())
    return net, _grid_res_for_tolerance(tolerance_m), tolerance_m, round_merc


def _network_index(payload) -> tuple:
    """Worker-side unpack: segments (rounded under ``round_merc``) and their
    sorted bucket table."""
    net, res, tol, rm = payload
    seg = {k: np.asarray(v) for k, v in net.items()}
    if rm is not None:
        for k in ("x0", "y0", "x1", "y1"):
            seg[k] = np.round(seg[k], rm)
    return (seg, *_bucket_segments(seg, res, tol), res, tol, rm)


def snap_to_network(
    points: DataFrame,
    network: DataFrame,
    tolerance_m: float = 100.0,
    lon: str = "lon",
    lat: str = "lat",
    compass: str | None = None,
    line_id_col: str = "line_id",
    coords_col: str = "coords",
    round_merc: int | None = None,
) -> DataFrame:
    """Left-join each point to its nearest network line within tolerance.

    Appends: ``line_id`` (NULL if unmatched), ``snap_dist`` (3857 meters),
    ``snapped_lon``/``snapped_lat`` (4326), ``snap_pos`` (linear-referencing
    measure along the line, meters), ``seg_bearing`` (forward azimuth of the
    matched segment, deg) and — when ``compass`` is given — ``snapped_angle``
    (reference realignment semantics).

    ``round_merc``: optionally round projected coords to N decimals before
    distance math (cross-engine float-parity mode used by the oracle checks).
    """
    # collect + flatten + broadcast once per (network, snap params): repeated
    # snaps against one road network pay the index build once, like the
    # reference's persistent R-tree (snap.py:19-31)
    bc, token = broadcast_dim(
        network, _network_prep, line_id_col, coords_col, tolerance_m, round_merc
    )

    def _snap(lon_a, lat_a) -> list[np.ndarray]:
        seg, cell_key, seg_idx, res_, tol_, rm = worker_state(
            token, bc, _network_index
        )
        n = len(lon_a)
        px = np_merc_x(lon_a.to_numpy(zero_copy_only=False).astype(np.float64))
        py = np_merc_y(lat_a.to_numpy(zero_copy_only=False).astype(np.float64))
        if rm is not None:
            px, py = np.round(px, rm), np.round(py, rm)
        cellsz = WORLD / (1 << res_)
        pcx = np.floor((px + WORLD / 2) / cellsz).astype(np.int64)
        pcy = np.floor((py + WORLD / 2) / cellsz).astype(np.int64)
        pkey = (pcx << 28) | pcy
        # each point's bucket range, expanded into (point, segment) pairs
        lo = np.searchsorted(cell_key, pkey, "left")
        cnt = np.searchsorted(cell_key, pkey, "right") - lo
        pi = np.repeat(np.arange(n, dtype=np.int64), cnt)
        si = seg_idx[np.repeat(lo - (np.cumsum(cnt) - cnt), cnt) + np.arange(len(pi))]
        # vectorized distance over ALL candidate pairs at once
        dx0, dy0 = seg["x0"][si], seg["y0"][si]
        dx1, dy1 = seg["x1"][si], seg["y1"][si]
        t = point_segment_t(px[pi], py[pi], dx0, dy0, dx1, dy1)
        nx = dx0 + t * (dx1 - dx0)
        ny = dy0 + t * (dy1 - dy0)
        dist = np.sqrt((px[pi] - nx) ** 2 + (py[pi] - ny) ** 2)
        ok = dist <= tol_
        pi, si, t, nx, ny, dist = pi[ok], si[ok], t[ok], nx[ok], ny[ok], dist[ok]
        lid = seg["line_id"][si]
        # argmin per point with stable (dist, line_id, seg_idx) tie-break
        order = np.lexsort((si, lid, dist, pi))
        pi_s = pi[order]
        first = np.ones(len(pi_s), dtype=bool)
        first[1:] = pi_s[1:] != pi_s[:-1]
        sel = order[first]
        bi, bs = pi[sel], si[sel]
        seg_len = np.sqrt(
            (seg["x1"][bs] - seg["x0"][bs]) ** 2 + (seg["y1"][bs] - seg["y0"][bs]) ** 2
        )
        s_lon, s_lat = np_inv_merc(nx[sel], ny[sel])
        brg = bearing(seg["lon0"][bs], seg["lat0"][bs], seg["lon1"][bs], seg["lat1"][bs])
        found = (
            seg["line_id"][bs], dist[sel], s_lon, s_lat,
            seg["cum0"][bs] + t[sel] * seg_len, brg,
        )
        # unmatched points keep NULL snap columns
        miss = np.ones(n, dtype=bool)
        miss[bi] = False
        cols = [np.zeros(n, dtype=v.dtype) for v in found]
        for c, v in zip(cols, found):
            c[bi] = v
        return [np.ma.masked_array(c, mask=miss) for c in cols]

    result = map_batches(
        points,
        [lon, lat],
        _snap,
        "line_id bigint, snap_dist double, snapped_lon double, snapped_lat double,"
        " snap_pos double, seg_bearing double",
    )
    if compass is not None:
        # realignment: forward or reverse segment bearing, whichever is
        # angularly closer to the compass angle (snap.py:147-153)
        result = result.withColumn(
            "snapped_angle",
            align_heading_col(F.col("seg_bearing"), F.col(compass)),
        )
    return result
