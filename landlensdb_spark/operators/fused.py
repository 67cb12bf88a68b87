"""Fused extract->PIP pipeline: ONE python stage from raw html to admin id.

The composable plan (``extract_geotags`` |> ``pip_join``) chains TWO
Arrow-batched python stages inside every task: Spark runs them as separate
python worker processes connected in series, so each task slot secretly
consumes ~2 cores of python plus its JVM thread. On a real executor that
oversubscribes the container exactly when all task slots are busy; on the
local bench it shows up as inverted scaling (local[4] borrows the idle
cores, local[16] can't). It also pays a second JVM->python->JVM Arrow
round trip: the extracted rows go back to the JVM and cross again into
``pip_join``'s pass.

This operator runs the whole chain inside ONE
:func:`~landlensdb_spark.operators.multimodal.map_batches` pass:

1. RE2 geotag extraction (:func:`landlensdb_spark.extract.extract_geotag_pa`,
   straight on the Spark-delivered Arrow binary column, so the html payload
   is never materialized as per-row Python bytes);
2. :func:`landlensdb_spark.operators.pip_join.pip_pairs` over the tagged
   rows, the same candidate-and-refine kernel :func:`pip_join` runs
   (reference parity: R-tree candidate lookup then exact test, the
   reference's landlensdb/process/snap.py:203-214); interior-cell
   candidates are never refined and never materialized as rows.

Semantics are identical to the composition (one output row per containing
polygon, same half-open boundary rule); a pytest asserts equality. Scale
shape: the page side is scanned exactly once, nothing shuffles until the
caller aggregates, one python worker per task slot, and the broadcast is
O(polygon covers). Use the composable ``pip_join`` when the point side is
already extracted.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from landlensdb_spark.broadcast_dim import broadcast_dim, worker_state
from landlensdb_spark.operators.multimodal import map_batches
from landlensdb_spark.operators.pip_join import (
    _collect_polygons,
    pip_pairs,
    polygon_state,
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

    Returns ``keep`` columns in the order given (default: every non-html
    page column, in schema order) + ``lon``/``lat`` (+ ``text_extracted``
    when ``with_text``) + the polygon id. Untagged pages and points outside
    every polygon are dropped; a point inside k overlapping polygons yields
    k rows (same contract as ``pip_join(extract_geotags(pages),
    polygons)``).
    """
    bc, token = broadcast_dim(polygons, _collect_polygons, polygon_id, rings_col)
    if keep is None:
        keep = [c for c in pages.columns if c != html]

    def _kernel(col):
        import pyarrow as pa

        from landlensdb_spark.extract import extract_geotag_pa

        state = worker_state(token, bc, polygon_state)
        s = col.cast(pa.string()) if pa.types.is_binary(col.type) else col
        lat, lon, text = extract_geotag_pa(s, with_text=with_text)
        tagged = np.flatnonzero(~(np.isnan(lat) | np.isnan(lon)))
        ii, pids = pip_pairs(state, lon[tagged], lat[tagged])
        src = tagged[ii]
        texts = [text.take(pa.array(src))] if with_text else []
        return [src, lon[src], lat[src], *texts, pids]

    out = ", ".join(
        ["lon double", "lat double"]
        + (["text_extracted string"] if with_text else [])
        + [f"{polygon_id} bigint"]
    )
    return map_batches(pages, [html], _kernel, out, keep=keep)
