"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (extract -> PIP join -> tile
assign -> per-admin/tile rollup) on sf0.001. ``queries()`` / ``oracle_sql()``
pairs live in :mod:`landlensdb_spark.entry_queries`, one per operator from
SURVEY.md §2; coordinates derive from table keys via integer formulas shared
between the Spark columns and the DuckDB SQL (landlensdb_spark/synth.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# run this checkout's package, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Pipeline: synthesize pages from the documents keys -> extract geotags
    from html (Arrow map) -> PIP join vs admin polygons (cell-cover
    candidates + ray-cast refine) -> z14 tile assignment (column math) ->
    rollup.
    """
    from pyspark.sql import functions as F

    from landlensdb_spark import synth, tables
    from landlensdb_spark.extract import extract_geotags
    from landlensdb_spark.operators.pip_join import pip_join
    from landlensdb_spark.operators.tiles import assign_tiles

    docs = tables.load(spark, "/root/testdata/sf0.001", "documents")
    n = docs.count()
    pages = tables.pages(spark, n)
    geo = extract_geotags(pages)
    polys = synth.admin_polygons(spark)
    joined = pip_join(geo, polys, keep_polygon_cols=["name"])
    tiled = assign_tiles(joined)
    return tiled.groupBy("admin_id", "name", "tile_z", "tile_x", "tile_y").agg(
        F.count("*").alias("n_pages"),
        F.min("url").alias("first_url"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from landlensdb_spark.entry_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from landlensdb_spark.entry_queries import resolve_oracles

    return resolve_oracles()
