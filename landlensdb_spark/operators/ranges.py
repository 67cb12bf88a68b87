"""Space-filling-curve RANGE DECOMPOSITION — the index-scan planner
step for SFC-sorted tables: turn a tile bbox into the minimal set of
contiguous Hilbert-key ranges, so a spatial predicate becomes a handful
of ``key BETWEEN lo AND hi`` scans that push down to any sorted store
(Iceberg sort keys, parquet row-group pruning, HBase-style key scans).
This is the 100 TB reason the engine keeps Hilbert cells sortable longs
(geo/cells.py): at scale you don't join against a cover table — you
read the few key ranges the cover compresses into. Hilbert's locality
is exactly what minimizes the range count vs Z-order/row-major (the
classic Faloutsos-Roseman result, measured in ARCHITECTURE.md).

Plan shape: the cover enumerates with ``sequence`` explodes (column
math), Hilbert d is one Arrow-batched kernel (the same
:func:`~landlensdb_spark.geo.cells.np_hilbert_d` the index uses), and
maximal runs come from the classic distinct-integers islands trick
(``d - row_number()`` is constant exactly on a contiguous run). The
islands window is globally ordered, which is fine HERE and only here:
a range-decomposition cover is a PLANNER artifact, bounded by
``max_cells`` with a loud runtime refusal — same single-task-budget
discipline as geo/cells.compact_cells' documented phase 2.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from landlensdb_spark.geo.cells import _RES_SHIFT, np_hilbert_d
from landlensdb_spark.session import local_frame

#: refuse covers beyond this many cells — a planner artifact should be
#: small; decompose bigger areas at a coarser level first.
MAX_COVER_CELLS = 1 << 21


def hilbert_d_udf(level: int):
    """Arrow-batched Hilbert xy -> tagged sortable key at ``level``."""

    @F.pandas_udf(LongType())
    def _d(x: pd.Series, y: pd.Series) -> pd.Series:
        d = np_hilbert_d(x.to_numpy(np.int64), y.to_numpy(np.int64), level)
        return pd.Series((np.int64(level) << _RES_SHIFT) | d)

    return _d


def hilbert_ranges(
    bounds: DataFrame, level: int, max_cells: int = MAX_COVER_CELLS
) -> DataFrame:
    """:func:`sfc_ranges` with the Hilbert order (see there)."""
    return sfc_ranges(bounds, level, order="hilbert", max_cells=max_cells)


def sfc_ranges(
    bounds: DataFrame,
    level: int,
    order: str = "hilbert",
    max_cells: int = MAX_COVER_CELLS,
) -> DataFrame:
    """``(range_start, range_end, n_cells)`` — the maximal contiguous
    key runs covering the tile bbox under ``order`` (``"hilbert"`` or
    ``"morton"``/Z-order; both tagged ``level << 58 | key`` so they are
    the engine's own sortable index longs). ``bounds`` is a ONE-ROW
    DataFrame with integer tile columns ``x0 <= x1``, ``y0 <= y1`` at
    ``level`` (derive them with geo.tiles.tile_x/tile_y column math so
    any lon/lat -> tile conversion stays engine-consistent). Covers
    larger than ``max_cells`` raise at runtime. Hilbert fragments the
    same bbox into ~2x fewer ranges than Morton (measured,
    ARCHITECTURE.md) — Morton is offered because Z-order keys are
    cheaper to compute (pure codegen, no kernel) and some stores
    already sort by them.

    Spark work run before this returns: one ``collect`` of the per-bucket
    key counts (at most ~2^10 tiny rows), which evaluates the whole cover
    — the bounds scan, the ``max_cells`` guard and the key kernel — to
    build the bucket offsets. The range grouping itself is lazy."""
    if order not in ("hilbert", "morton"):
        raise ValueError(f"order must be 'hilbert' or 'morton', got {order!r}")
    n = (F.col("x1") - F.col("x0") + 1) * (F.col("y1") - F.col("y0") + 1)
    # the guard gates x1 itself (not a side column Catalyst would prune
    # away unevaluated): the explode below cannot run without tripping it
    guarded = bounds.select(
        "x0",
        F.when(n <= F.lit(int(max_cells)), F.col("x1"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("hilbert_ranges: cover of "),
                    n.cast("string"),
                    F.lit(f" cells exceeds max_cells={max_cells}; "),
                    F.lit("decompose at a coarser level"),
                )
            )
        )
        .alias("x1"),
        "y0",
        "y1",
    )
    xy = guarded.select(
        F.explode(F.sequence("x0", "x1")).alias("x"), "y0", "y1"
    ).select("x", F.explode(F.sequence("y0", "y1")).alias("y"))
    if order == "hilbert":
        keys = xy.select(hilbert_d_udf(level)(F.col("x"), F.col("y")).alias("k"))
    else:
        from landlensdb_spark.geo.tiles import quadkey

        keys = xy.select(quadkey("x", "y", level).alias("k"))
    # distinct integers: k - global_row_number(k) is constant exactly on a
    # contiguous run. The global row number is computed TWO-LEVEL (r08,
    # closing the engine's last unpartitioned WindowExec): row_number
    # within a key-prefix bucket plus a per-bucket offset from a bounded
    # driver prefix sum (<= max_cells tiny rows, usually far fewer) — the
    # same two-phase scan pack_token_shards uses, so no single task ever
    # sorts the whole cover.
    shift = max(0, 2 * level - 10)  # <= ~2^10 prefix buckets over the cover
    keyed = keys.select("k", F.shiftright(F.col("k"), shift).alias("_p"))
    counts = keyed.groupBy("_p").count().collect()
    offs, acc = [], 0
    for r in sorted(counts, key=lambda r: r["_p"]):
        offs.append((r["_p"], acc))
        acc += r["count"]
    spark = bounds.sparkSession
    off_df = local_frame(spark, offs or [(0, 0)], "_p long, _off long")
    wb = Window.partitionBy("_p").orderBy("k")
    isl = keyed.join(F.broadcast(off_df), "_p").select(
        "k",
        (F.col("k") - (F.row_number().over(wb) + F.col("_off"))).alias("_i"),
    )
    return (
        isl.groupBy("_i")
        .agg(
            F.min("k").alias("range_start"),
            F.max("k").alias("range_end"),
            F.count("*").alias("n_cells"),
        )
        .drop("_i")
    )
