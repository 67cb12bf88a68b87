"""Fused extract->PIP pipeline: ONE python stage from raw html to admin id.

The composable plan (``extract_geotags`` |> ``pip_join``) chains TWO
Arrow-batched python stages inside every task: Spark runs them as separate
python worker processes connected in series, so each task slot secretly
consumes ~2 cores of python plus its JVM thread. On a real executor that
oversubscribes the container exactly when all task slots are busy; on the
local bench it shows up as inverted scaling (local[4] borrows the idle
cores, local[16] can't). It also pays a full JVM->python->JVM Arrow round
trip for the extracted rows plus the candidate rows — including the
interior-cell majority that the refine immediately short-circuits.

This operator runs the whole chain inside ONE ``mapInArrow`` pass:

1. RE2 geotag extraction (:func:`landlensdb_spark.extract.extract_geotag_pa`,
   straight on the Spark-delivered Arrow binary column — mapInArrow, so the
   html payload is never materialized as per-row Python bytes);
2. candidate generation: points' cell ids (numpy twin of the column-math
   encoder) hash-merged against the broadcast polygon-cover table — the same
   adaptive-resolution covers :func:`landlensdb_spark.operators.pip_join`
   builds (reference parity: R-tree candidate lookup,
   /root/reference/landlensdb/process/snap.py:203-214);
3. exact ray-cast refine for boundary-cell candidates only
   (:func:`landlensdb_spark.operators.pip_join.refine_points`); interior-cell
   candidates short-circuit WITHOUT ever being materialized as rows.

Semantics are identical to the composition (one output row per containing
polygon, same half-open boundary rule); a pytest asserts equality. Scale
shape: the page side is scanned exactly once, nothing shuffles until the
caller aggregates, one python worker per task slot, and the broadcast is
O(polygon covers). Use the composable ``pip_join`` when the point side is
already extracted, when the polygon side is too big to broadcast
(``broadcast_cover=False`` degrades to a shuffled join), or when Catalyst
should see the join (e.g. to push polygon-side filters).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from landlensdb_spark.broadcast_dim import broadcast_dim, worker_state
from landlensdb_spark.geo.cells import np_cell_encode
from landlensdb_spark.operators.pip_join import (
    _collect_polygons,
    _cover_frame,
    polygon_state,
    refine_points,
)


def extract_pip(
    pages: DataFrame,
    polygons: DataFrame,
    html: str = "html",
    keep: list[str] | None = None,
    polygon_id: str = "admin_id",
    rings_col: str = "ring",
    with_text: bool = False,
) -> DataFrame:
    """Extract geotags from ``pages[html]`` and inner-join the containing
    polygon, in a single python stage.

    Returns ``keep`` columns (default: every non-html page column) +
    ``lon``/``lat`` (+ ``text_extracted`` when ``with_text``) + the polygon
    id. Untagged pages and points outside every polygon are dropped; a point
    inside k overlapping polygons yields k rows (same contract as
    ``pip_join(extract_geotags(pages), polygons)``).
    """
    bc, token = broadcast_dim(polygons, _collect_polygons, polygon_id, rings_col)

    if keep is not None:
        # loud-failure twin of extract.extract_geotags' keep= validation: a
        # typo'd name must not silently narrow the output
        unknown = sorted(set(keep) - {f.name for f in pages.schema.fields})
        if unknown:
            raise ValueError(f"keep= names not in the input schema: {unknown}")
    keep_fields = [
        f
        for f in pages.schema.fields
        if (keep is None and f.name != html) or (keep is not None and f.name in keep)
    ]
    keep_names = [f.name for f in keep_fields]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in keep_fields]
        + ["lon double", "lat double"]
        + (["text_extracted string"] if with_text else [])
        + [f"{polygon_id} bigint"]
    )
    # ship ONLY the needed columns through the Arrow boundary: the python
    # stage reads `html` + the kept columns, but mapInArrow serializes
    # every input column — on the bench pages table the unused `text`
    # column alone is ~1/3 of the transferred bytes
    pages = pages.select(*keep_names, html) if html not in keep_names else (
        pages.select(*keep_names)
    )

    def _run(batches):
        import pyarrow as pa

        from landlensdb_spark.extract import extract_geotag_pa

        _, cover, res_sorted = bc.value
        cover_pdf = _cover_frame(cover, "_pid")
        state = worker_state(token, bc, polygon_state)
        for b in batches:
            col = b.column(b.schema.get_field_index(html))
            s = col.cast(pa.string()) if pa.types.is_binary(col.type) else col
            lat, lon, text = extract_geotag_pa(s, with_text=with_text)
            tagged = np.where(~(np.isnan(lat) | np.isnan(lon)))[0]
            lon, lat = lon[tagged], lat[tagged]
            # candidate (point, polygon) pairs: cell ids at every cover
            # resolution, hash-merged against the cover table (C-speed).
            cells = np.concatenate(
                [np_cell_encode(lon, lat, r) for r in res_sorted]
            )
            idx = np.tile(np.arange(len(lon), dtype=np.int64), len(res_sorted))
            cand = pd.DataFrame({"_cell": cells, "_i": idx}).merge(
                cover_pdf, on="_cell", how="inner"
            )
            ii = cand["_i"].to_numpy()
            pids = cand["_pid"].to_numpy()
            inside = cand["_full"].to_numpy()  # interior cells: contained, free
            boundary = np.where(~inside)[0]
            if len(boundary):
                bb = boundary
                inside = inside.copy()
                inside[bb] = refine_points(state, lon[ii[bb]], lat[ii[bb]], pids[bb])
            sel = np.where(inside)[0]
            src = tagged[ii[sel]]
            # output = Arrow take of the pass-through columns (no pandas
            # round-trip of the row payload) + the computed columns
            tb = pa.Table.from_batches([b]).select(keep_names).take(pa.array(src))
            tb = tb.append_column("lon", pa.array(lon[ii[sel]], type=pa.float64()))
            tb = tb.append_column("lat", pa.array(lat[ii[sel]], type=pa.float64()))
            if with_text:
                tb = tb.append_column("text_extracted", text.take(pa.array(src)))
            tb = tb.append_column(polygon_id, pa.array(pids[sel], type=pa.int64()))
            yield from tb.combine_chunks().to_batches()

    return pages.mapInArrow(_run, out_schema)
