"""Distance-threshold spatial clustering — urban-cluster detection.

DBSCAN-with-minPts=1 semantics over a point field: two points are
neighbors when their planar EPSG:3857 distance is <= ``eps_m``; clusters
are the connected components of the neighbor graph (every point belongs
to exactly one cluster; isolated points are singleton clusters). This is
the geo twin of the dedup family's near-dup clustering — the reference
eyeballs dense areas on a folium map (/root/reference/landlensdb/handlers/
mapping.py); the engine makes the grouping a first-class distributed op.

Scale shape (no pairwise anything beyond true candidates):

1. both coordinates are pre-rounded mercator (synth parity rules); each
   point gets a grid cell at the coarsest resolution whose cell side is
   >= eps, so every neighbor pair lives in the 3x3 cell box,
2. candidate pairs: the LEFT side explodes its 9-cell box (9 rows/point),
   equi-joins the right side on the cell long — one shuffle keyed by
   cell; ``id_a < id_b`` halves the work and the exact ``dist2 <= eps^2``
   refine runs in codegen,
3. connected components via the shared min-label propagation
   (operators/dedup.dup_clusters) over the surviving pair list,
4. singletons (no neighbor within eps) rejoin with their own id as the
   cluster id.

Dense urban cells make candidate skew; at 100 TB pass the points through
``skew.salt_hot_keys``-style pre-splitting or rely on AQE skew-join — the
join is a plain equi-join either way.

:func:`grid_cluster` is the CELL-level sibling (STING / GriDBSCAN
family) for when even candidate pairs are too many: a cell is CORE iff
it holds >= ``min_count`` points, core cells connect over their
8-neighborhood, and a point's cluster is its core cell's component (NULL
= noise). After ONE aggregation the working set is populated CELLS, not
points — the shape that survives 10^12 rows. Exact integer semantics
(floor-divide bins, packed cell keys, min-key labels) make the DuckDB
recursive-CTE closure oracle bit-exact.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from landlensdb_spark.geo.cells import _cell_sql
from landlensdb_spark.operators.knn import WORLD, _cell_shift, _merc_sql


def neighbor_pairs(
    points: DataFrame,
    eps_m: float,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """(id_a, id_b, dist2) for every unordered pair within ``eps_m``
    planar meters (id_a < id_b)."""
    res = int(math.floor(math.log2(WORLD / eps_m)))  # cell side >= eps
    pts = points.selectExpr(
        f"{point_id} AS _id",
        *_merc_sql(lon, lat, "_x", "_y"),
        f"{_cell_sql(lon, lat, res)} AS _cell",
    )
    left = (
        pts.withColumn("_dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("_jc", F.expr(_cell_shift("_cell", "_dx", "_dy", res)))
        .filter(F.col("_jc").isNotNull())
        .select(
            F.col("_id").alias("id_a"),
            F.col("_x").alias("_xa"),
            F.col("_y").alias("_ya"),
            "_jc",
        )
    )
    right = pts.select(
        F.col("_id").alias("id_b"),
        F.col("_x").alias("_xb"),
        F.col("_y").alias("_yb"),
        F.col("_cell").alias("_jc"),
    )
    d2 = (F.col("_xa") - F.col("_xb")) * (F.col("_xa") - F.col("_xb")) + (
        F.col("_ya") - F.col("_yb")
    ) * (F.col("_ya") - F.col("_yb"))
    return (
        left.join(right, "_jc")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist2", d2)
        .filter(F.col("dist2") <= F.lit(float(eps_m) ** 2))
        .select("id_a", "id_b", "dist2")
    )


def spatial_clusters(
    points: DataFrame,
    eps_m: float,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    iterations: int = 5,
    verify_convergence: bool = True,
) -> DataFrame:
    """(point_id, cluster_id, cluster_size) — cluster_id is the minimum
    member id (deterministic canonical label), singletons included with
    cluster_size 1. ``iterations`` bounds the label-propagation rounds
    exactly like dup_clusters (loud ValueError if a component's diameter
    exceeds it)."""
    from landlensdb_spark.operators.dedup import dup_clusters

    pairs = neighbor_pairs(points, eps_m, point_id, lon, lat)
    labeled = dup_clusters(
        pairs, iterations=iterations, verify_convergence=verify_convergence
    ).select(F.col("doc_id").alias(point_id), "cluster_id")
    ids = points.select(F.col(point_id))
    out = ids.join(labeled, point_id, "left").select(
        point_id,
        F.coalesce("cluster_id", F.col(point_id)).alias("cluster_id"),
    )
    w = F.count("*").over(Window.partitionBy("cluster_id"))
    return out.withColumn("cluster_size", w.cast("long"))


#: half-neighborhood offsets: self + the 4 "positive" directions — each
#: undirected adjacency is generated exactly once (the CC step mirrors).
_HALF_NEIGHBORHOOD = [(0, 0), (1, 0), (0, 1), (1, 1), (1, -1)]

_KEY_SHIFT = 2**32
_CX_BOUND = 2**30
_CY_BOUND = 2**31


def _cell_key(cx, cy):
    """Injective (cx, cy) -> long packing with a loud range guard."""
    ok = (F.abs(cx) < F.lit(_CX_BOUND)) & (F.abs(cy) < F.lit(_CY_BOUND))
    return F.when(ok, cx * F.lit(_KEY_SHIFT) + cy).otherwise(
        F.raise_error(
            F.concat(
                F.lit("grid_cluster: cell coordinate out of packing range: ("),
                cx.cast("string"),
                F.lit(", "),
                cy.cast("string"),
                F.lit(")"),
            )
        )
    )


def grid_cluster(
    df: DataFrame,
    x: str = "x",
    y: str = "y",
    cell_size: float = 1.0,
    min_count: int = 1,
    iterations: int = 8,
) -> DataFrame:
    """All input columns + ``cluster`` (nullable long): the minimum
    packed cell key of the point's core-cell component, NULL for noise
    points (cell below ``min_count``). ``iterations`` bounds the
    min-label rounds; under-provisioning raises (see
    :func:`~landlensdb_spark.operators.dedup.dup_clusters`)."""
    from landlensdb_spark.operators.dedup import dup_clusters

    if cell_size <= 0:
        raise ValueError(f"cell_size must be > 0, got {cell_size}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")

    cx = F.floor(F.col(x) / F.lit(float(cell_size))).cast("long")
    cy = F.floor(F.col(y) / F.lit(float(cell_size))).cast("long")
    pts = df.withColumn("_ck", _cell_key(cx, cy))

    cells = (
        pts.groupBy("_ck")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= F.lit(int(min_count)))
        .select("_ck")
    )

    # constant fan-out adjacency: explode each core cell's 5-offset half
    # neighborhood, equi-join back against the core-cell set. Self-offset
    # (0,0) keeps isolated core cells in the node set as singletons.
    offs = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in _HALF_NEIGHBORHOOD]
    )
    probes = (
        cells.withColumn("_o", F.explode(offs))
        .select(
            F.col("_ck").alias("id_a"),
            (
                F.col("_ck")
                + F.col("_o.dx").cast("long") * F.lit(_KEY_SHIFT)
                + F.col("_o.dy").cast("long")
            ).alias("_nk"),
        )
    )
    edges = probes.join(
        cells.select(F.col("_ck").alias("_nk")), "_nk"
    ).select("id_a", F.col("_nk").alias("id_b"))
    # NOTE: key packing makes neighbor arithmetic pure addition — cy is
    # bounded away from +-2^31 by the packing guard, so +-1 in cy never
    # carries into cx. The (1,-1) and (1,1) diagonal offsets cover both
    # diagonal directions once mirrored by dup_clusters' symmetrization.

    labels = dup_clusters(
        edges, "id_a", "id_b", iterations=iterations, verify_convergence=True
    ).select(F.col("doc_id").alias("_lk"), F.col("cluster_id").alias("cluster"))

    return (
        pts.join(labels, pts["_ck"] == labels["_lk"], "left")
        .drop("_ck", "_lk")
    )


def grid_cluster_sql(
    pts_sql: str,
    cell_size: int,
    min_count: int,
    x: str = "x",
    y: str = "y",
    keep: str = "key",
) -> str:
    """Independent DuckDB twin: same cell semantics, but the component
    id comes from a RECURSIVE-CTE reachability closure (full transitive
    closure, no fixed round count) — if the engine's fixed-round
    propagation stopped early, the value hash breaks, which is exactly
    what ``verify_convergence`` exists to prevent."""
    return f"""
WITH RECURSIVE pts AS ({pts_sql}),
pc AS (
  SELECT {keep}, CAST(FLOOR({x} / {cell_size}) AS BIGINT) AS cx,
         CAST(FLOOR({y} / {cell_size}) AS BIGINT) AS cy
  FROM pts
),
cells AS (
  SELECT cx, cy, cx * {_KEY_SHIFT} + cy AS ck
  FROM pc GROUP BY cx, cy HAVING COUNT(*) >= {min_count}
),
edges AS (
  SELECT a.ck AS s, b.ck AS d
  FROM cells a JOIN cells b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
),
reach(cell, lab) AS (
  SELECT s, d FROM edges
  UNION
  SELECT reach.cell, e.d FROM reach JOIN edges e ON e.s = reach.lab
),
comp AS (SELECT cell, MIN(lab) AS cluster FROM reach GROUP BY cell)
SELECT pc.{keep}, comp.cluster
FROM pc LEFT JOIN comp ON comp.cell = pc.cx * {_KEY_SHIFT} + pc.cy
"""
