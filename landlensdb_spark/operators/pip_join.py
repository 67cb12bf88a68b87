"""Two-phase point-in-polygon join: cell equi-join -> exact ray-cast refine.

The reference's spatial join is an R-tree index nested loop on one machine
(/root/reference/landlensdb/process/snap.py:203-214). The Spark-native shape
(SURVEY.md §2.3 J1/J7) is:

1. **Coarse phase** — polygons are covered with spatial cells (adaptive
   resolution, bounded cells/polygon); points get a cell id via pure column
   math (:func:`landlensdb_spark.geo.cells.cell_encode`, no UDF). The join is
   a plain equi-join on the cell long against the broadcast cover table —
   hash-relation build on executors, zero shuffle of the (huge) point side.
2. **Exact phase** — candidate (point, polygon) pairs are refined with a
   vectorized numpy ray-cast inside one Arrow-batched pandas UDF; polygon
   coordinate arrays ride a Spark broadcast variable, grouped per polygon
   inside each batch so the kernel is N-points x M-edges vectorized.

Scale notes (100 TB point side): the point table is touched exactly once,
filter/projection push down beneath the UDF, and the only wide operation is
the broadcast join. A polygon side too big to broadcast degrades gracefully:
pass ``broadcast_cover=False`` and the same plan becomes a shuffled hash join
on the cell key (AQE skew-split handles dense-city cells).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from landlensdb_spark.broadcast_dim import broadcast_dim, worker_state
from landlensdb_spark.geo.cells import cell_encode
from landlensdb_spark.geo.geometry import points_in_polygon

#: max cover cells per polygon before coarsening its cover resolution.
MAX_COVER_CELLS = 64


def _compact_cover_np(
    cells: np.ndarray, full: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Flag-aware H3-style compact of one polygon's cover (round-6 verdict
    #7): every complete 4-sibling block whose cells share the SAME
    interior/boundary flag collapses to its parent carrying that flag,
    recursively. Merging preserves join semantics exactly — a full=True
    parent is the union of 4 full children (every point inside), a
    full=False parent still routes its points through the exact ray-cast.
    Depth is bounded structurally: collapsing d levels needs 4^d cells, so
    a <= MAX_COVER_CELLS(=64)-cell cover compacts at most 3 levels."""
    from landlensdb_spark.geo.cells import _RES_SHIFT, _X_SHIFT

    ymask = (1 << _X_SHIFT) - 1
    cur_c = cells.astype(np.int64)
    cur_f = full.astype(bool)
    out_c: list[np.ndarray] = []
    out_f: list[np.ndarray] = []
    while cur_c.size:
        res = int((cur_c >> _RES_SHIFT).max())
        m = (cur_c >> _RES_SHIFT) == res
        lc, lf = cur_c[m], cur_f[m]
        rest_c, rest_f = cur_c[~m], cur_f[~m]
        if res == 0:
            out_c.append(lc)
            out_f.append(lf)
            cur_c, cur_f = rest_c, rest_f
            continue
        x = (lc >> _X_SHIFT) & ymask
        y = lc & ymask
        parent = (
            (np.int64(res - 1) << _RES_SHIFT) | ((x >> 1) << _X_SHIFT) | (y >> 1)
        )
        # a parent has exactly 4 children, so (parent, flag) reaching count
        # 4 means all 4 children are present WITH that flag. parent*2 only
        # fits int64 because CELL_RES <= 15 keeps cell ids under 2^62; the
        # bit layout allows res up to 31, where this would silently wrap
        assert res <= 16, "compact key would overflow int64 past res 16"
        key = parent * 2 + lf.astype(np.int64)
        uniq, inv, counts = np.unique(key, return_inverse=True, return_counts=True)
        complete = counts[inv] == 4
        out_c.append(lc[~complete])
        out_f.append(lf[~complete])
        promoted = uniq[counts == 4]
        cur_c = np.concatenate([rest_c, promoted // 2])
        cur_f = np.concatenate([rest_f, (promoted % 2).astype(bool)])
    return (
        np.concatenate(out_c) if out_c else np.empty(0, np.int64),
        np.concatenate(out_f) if out_f else np.empty(0, bool),
    )


def _collect_polygons(polygons: DataFrame, id_col: str, rings_col: str):
    """Driver-side prep of the build side (reference does the same:
    simplify/dedupe/index the network before the join, road_network.py:83-129).

    Returns (rings_by_id, cover, res_sorted): polygon coordinate arrays
    keyed by id, the cover as one ``(n, 3)`` int64 array of
    ``(cell, id, full)`` rows, and the sorted distinct cover resolutions.
    It is the broadcast payload :func:`pip_join` and
    :func:`~landlensdb_spark.operators.fused.extract_pip` share.

    Covers are COMPACTED per polygon (:func:`_compact_cover_np`) before
    shipping: complete same-flag sibling blocks in the cover collapse, so
    the broadcast cover table shrinks — up to 4x when the interior is
    block-aligned, ~10-25% on typical unaligned bbox covers (merging is
    alignment-dependent; a cover with no aligned same-flag 2x2 block
    legitimately compacts to itself). The point side keeps the identical
    one-explode/equi-join shape — ``cell_encode`` at a coarser res IS the
    probe's ancestor cell, so the exploded array over ``res_sorted`` (which
    now spans the compacted covers' mixed resolutions, at most 3 extra
    coarser levels) is exactly the ancestor-chain join the compact cover
    needs. At 100 TB the broadcast/build side is what breaks first
    (millions of polygons x 64 cells); trading a couple of extra cheap
    hash probes per point for a smaller build table is the right
    direction, and the bench shows no point-side regression.
    """
    from landlensdb_spark.geo.cells import CELL_RES, _RES_SHIFT, _X_SHIFT
    from landlensdb_spark.geo.tiles import np_tile_north, np_tile_west, np_tile_xy

    rows = polygons.select(id_col, rings_col).collect()
    rings_by_id: dict[int, list[np.ndarray]] = {}
    pids, bboxes = [], []
    for r in rows:
        pid = r[0]
        raw = r[1]
        # accept a single ring (list of [x,y]) or a list of rings
        if raw and isinstance(raw[0][0], (int, float)):
            rings = [np.asarray(raw, dtype=np.float64)]
        else:
            rings = [np.asarray(ring, dtype=np.float64) for ring in raw]
        rings_by_id[pid] = rings
        shell = rings[0]
        pids.append(pid)
        bboxes.append(
            (shell[:, 0].min(), shell[:, 1].min(), shell[:, 0].max(), shell[:, 1].max())
        )

    # vectorized adaptive cover-resolution choice for ALL polygons at once:
    # finest res whose bbox cover stays under MAX_COVER_CELLS
    bb = np.asarray(bboxes, dtype=np.float64)
    n = len(bb)
    res_arr = np.full(n, 1, dtype=np.int64)
    done = np.zeros(n, dtype=bool)
    for res in range(CELL_RES, 0, -1):
        x0, y1 = np_tile_xy(bb[:, 0], bb[:, 1], res)
        x1, y0 = np_tile_xy(bb[:, 2], bb[:, 3], res)
        cnt = (x1 - x0 + 1) * (y1 - y0 + 1)
        ok = (~done) & (cnt <= MAX_COVER_CELLS)
        res_arr[ok] = res
        done |= ok
        if done.all():
            break

    # per-polygon edge bboxes (all rings) for the interior-cell test
    edge_boxes: dict[int, np.ndarray] = {}
    for pid, rings in rings_by_id.items():
        boxes = []
        for ring in rings:
            a, b_ = ring[:-1], ring[1:]
            boxes.append(
                np.column_stack(
                    [
                        np.minimum(a[:, 0], b_[:, 0]),
                        np.minimum(a[:, 1], b_[:, 1]),
                        np.maximum(a[:, 0], b_[:, 0]),
                        np.maximum(a[:, 1], b_[:, 1]),
                    ]
                )
            )
        edge_boxes[pid] = np.vstack(boxes)

    covers: list[np.ndarray] = []
    for res in set(int(r) for r in np.unique(res_arr)):
        sel = np.where(res_arr == res)[0]
        x0, y1 = np_tile_xy(bb[sel, 0], bb[sel, 1], res)
        x1, y0 = np_tile_xy(bb[sel, 2], bb[sel, 3], res)
        base = np.int64(res) << _RES_SHIFT
        for j, i in enumerate(sel):
            gx = np.arange(x0[j], x1[j] + 1, dtype=np.int64)
            gy = np.arange(y0[j], y1[j] + 1, dtype=np.int64)
            pid = pids[i]
            cells = (base | (gx[:, None] << _X_SHIFT) | gy[None, :]).ravel()
            # interior test per cell: no polygon edge bbox touches the cell
            # bbox AND the cell center is inside -> every point in the cell
            # is inside (conservative: touching counts as boundary). Interior
            # candidates skip the exact ray-cast entirely — at web scale the
            # overwhelming share of points land in interior cells.
            cw = np_tile_west(gx, res)
            ce = np_tile_west(gx + 1, res)
            cn = np_tile_north(gy, res)
            cs = np_tile_north(gy + 1, res)
            eb = edge_boxes[pid]
            # (cells_x, cells_y) grid vs edges: disjoint if edge right < cell
            # west, edge left > cell east, etc.
            no_edge = (
                (eb[None, None, :, 2] < cw[:, None, None])
                | (eb[None, None, :, 0] > ce[:, None, None])
                | (eb[None, None, :, 3] < cs[None, :, None])
                | (eb[None, None, :, 1] > cn[None, :, None])
            ).all(axis=2)
            if no_edge.any():
                ccx = np.broadcast_to(((cw + ce) / 2)[:, None], no_edge.shape).ravel()
                ccy = np.broadcast_to(((cn + cs) / 2)[None, :], no_edge.shape).ravel()
                inside = points_in_polygon(ccx, ccy, rings_by_id[pid])
                full = (no_edge.ravel() & inside)
            else:
                full = np.zeros(cells.shape[0], dtype=bool)
            ccells, cfull = _compact_cover_np(cells, full)
            covers.append(
                np.column_stack([ccells, np.full(len(ccells), pid), cfull])
            )
    cover = np.concatenate(covers)
    res_sorted = [int(r) for r in np.unique(cover[:, 0] >> _RES_SHIFT)]
    return rings_by_id, cover, res_sorted


def pack_refine_state(rings_by_id: dict) -> dict:
    """Pack polygon rings for the vectorized ray-cast refine.

    Single-ring polygons are grouped by ring length into (n, length, 2)
    tensors so a whole batch refines in a handful of vectorized calls;
    multi-ring (holed) polygons keep the per-polygon path. Dense pid ->
    (length, row) numpy lookup tables replace per-row dict probes when ids
    are small ints (the common case). Shared by :func:`pip_join`'s refine
    UDF and the fused single-stage pipeline (operators/fused.py).
    """
    classes: dict[int, list[tuple[int, np.ndarray]]] = {}
    multi: dict[int, list[np.ndarray]] = {}
    for pid, rr in rings_by_id.items():
        if len(rr) == 1:
            classes.setdefault(len(rr[0]), []).append((pid, rr[0]))
        else:
            multi[pid] = rr
    packed = {}
    pid_to_slot = {}
    for length, items in classes.items():
        packed[length] = np.stack([r for _, r in items])
        for row, (pid, _) in enumerate(items):
            pid_to_slot[pid] = (length, row)
    state: dict = {"packed": packed, "slots": pid_to_slot, "multi": multi}
    max_pid = max(rings_by_id.keys(), default=-1)
    if 0 <= max_pid < 4_000_000:
        lt = np.zeros(max_pid + 1, dtype=np.int64)
        rt = np.full(max_pid + 1, -1, dtype=np.int64)
        for pid, (length, row) in pid_to_slot.items():
            lt[pid] = length
            rt[pid] = row
        state["len_table"] = lt
        state["row_table"] = rt
    else:
        state["len_table"] = None
    return state


def _cover_frame(cover: np.ndarray, pid_col: str) -> pd.DataFrame:
    """An ``(n, 3)`` cover array as a (``_cell``, ``pid_col``, ``_full``) frame."""
    return pd.DataFrame(
        {"_cell": cover[:, 0], pid_col: cover[:, 1], "_full": cover[:, 2].astype(bool)}
    )


def polygon_state(payload) -> dict:
    """Worker-side unpack of a :func:`_collect_polygons` broadcast: the
    :func:`pack_refine_state` bundle of its rings. The one build for that
    payload, shared by :func:`pip_join` and the fused extract_pip."""
    return pack_refine_state(payload[0])


def refine_points(
    state: dict, px: np.ndarray, py: np.ndarray, pids: np.ndarray
) -> np.ndarray:
    """Exact ray-cast containment for (point, polygon-id) pairs against a
    :func:`pack_refine_state` bundle. Vectorized per ring-length class."""
    from landlensdb_spark.geo.geometry import points_in_own_ring

    packed, slots, multi = state["packed"], state["slots"], state["multi"]
    out = np.zeros(len(px), dtype=bool)
    if state.get("len_table") is not None:
        pid_idx = pids.astype(np.int64)
        lengths = state["len_table"][pid_idx]
        rows = state["row_table"][pid_idx]
    else:
        lengths = np.array([slots.get(p, (0, -1))[0] for p in pids], dtype=np.int64)
        rows = np.array([slots.get(p, (0, -1))[1] for p in pids], dtype=np.int64)
    for length in np.unique(lengths):
        if length == 0:
            continue
        ii = np.where(lengths == length)[0]
        tensor = packed[length][rows[ii]]  # (n_ii, length, 2) aligned rows
        out[ii] = points_in_own_ring(px[ii], py[ii], tensor)
    if multi:
        mm = np.where(lengths == 0)[0]
        for pid in np.unique(pids[mm]):
            jj = mm[pids[mm] == pid]
            out[jj] = points_in_polygon(px[jj], py[jj], multi[pid])
    return out


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    polygon_id: str = "admin_id",
    rings_col: str = "ring",
    keep_polygon_cols: list[str] | None = None,
    broadcast_cover: bool = True,
) -> DataFrame:
    """Inner-join ``points`` to the polygon containing them.

    Returns the point rows + the polygon id column (+ ``keep_polygon_cols``).
    A point inside k overlapping polygons yields k rows (standard spatial
    inner join). Boundary semantics are the ray-cast half-open rule (left/
    bottom edges inside, right/top outside for rectilinear polygons).
    """
    spark = points.sparkSession
    bc, token = broadcast_dim(polygons, _collect_polygons, polygon_id, rings_col)
    _, cover, res_sorted = bc.value

    # cell ids carry their res in the top bits, so covers at mixed adaptive
    # resolutions coexist in ONE join column; ship via Arrow (fast path).
    cover_df = spark.createDataFrame(_cover_frame(cover, polygon_id))
    if broadcast_cover:
        cover_df = F.broadcast(cover_df)

    @F.pandas_udf(BooleanType())
    def _contains(
        lon_s: pd.Series, lat_s: pd.Series, pid_s: pd.Series, full_s: pd.Series
    ) -> pd.Series:
        state = worker_state(token, bc, polygon_state)
        full = full_s.to_numpy(dtype=bool)
        if full.all():
            return pd.Series(full)
        # only boundary-cell rows pay the exact ray-cast
        keep = np.where(~full)[0]
        out_all = full.copy()
        px = lon_s.iloc[keep].to_numpy(dtype=np.float64)
        py = lat_s.iloc[keep].to_numpy(dtype=np.float64)
        pids = pid_s.iloc[keep].to_numpy()
        out_all[keep] = refine_points(state, px, py, pids)
        return pd.Series(out_all)

    # ONE pass over the point side: explode the point's cell id at each
    # distinct cover resolution (pure column math — 2-3 cheap expressions),
    # then a single broadcast equi-join on the cell long.
    cell_array = F.array(*[cell_encode(lon, lat, r) for r in res_sorted])
    pts = points.withColumn("_cell", F.explode(cell_array))
    candidates = pts.join(cover_df, "_cell", "inner").drop("_cell")

    refined = candidates.filter(
        _contains(F.col(lon), F.col(lat), F.col(polygon_id), F.col("_full"))
    ).drop("_full")

    if keep_polygon_cols:
        extra = polygons.select(polygon_id, *keep_polygon_cols)
        refined = refined.join(F.broadcast(extra), polygon_id, "left")
    return refined
