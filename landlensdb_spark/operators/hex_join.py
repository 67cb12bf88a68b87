"""Within-radius point<->point join on the hexagonal cell index.

The distance-join analog of the reference's R-tree candidate probe
(/root/reference/landlensdb/process/snap.py:203-214) for point sites: both
sides get a hex cell key (geo/hex.py), the probe side explodes its k-ring,
and the join becomes a plain equi-join on the cell long — hash-partitioned,
AQE-skew-splittable, no cross product anywhere. An exact planar-distance
filter then removes false candidates, so results equal the brute-force
distance join (the driver oracle IS the brute force at sf0.01).

Completeness (why the k-ring provably contains every match): hex centers
of cells at grid distance g are >= 1.5*e*g meters apart (the tightest
packing walks two alternating axial directions, 1.5*e of displacement per
step), and any point lies within the circumradius e of its own cell
center. So |probe - site| <= r implies their center distance is
<= r + 2e, hence grid distance g <= (r + 2e) / (1.5*e) <= k for
k = ceil((r + 2e) / (1.5*e)). With the auto-picked resolution k <= 3:
auto_res rounds log2, so the chosen edge lands anywhere in
[r/sqrt(2), r*sqrt(2)]; at the small end e = r/sqrt(2) the bound gives
k = ceil(3.41/1.5) = 3 (a 37-cell ring), and at e >= r*2/3 it gives
k = 2 (19 cells). Either way the fan-out is a small CONSTANT per probe
through the shuffle at any data scale.

Metric: UNWRAPPED planar EPSG:3857 meters on coordinates pre-rounded to
1e-3 m — the same drift-proof distance space as the kNN and snap
operators (and their oracles). Probes near the antimeridian do not see
sites across the seam; that matches the operator family's documented
planar semantics.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landlensdb_spark.geo.hex import (
    SQRT3,
    WORLD,
    hex_edge_m,
    hex_encode,
    hex_kring,
)
from landlensdb_spark.geo.mercator import R

#: explode fan-out guard: 3k(k+1)+1 literal offsets per probe. k=64 is
#: ~12k cells — far past any sane res choice (auto-res keeps k at 2).
MAX_RING = 64


def auto_res(radius_m: float) -> int:
    """Resolution whose hex edge is nearest ``radius_m`` (log2 rounding —
    edge lands in [r/sqrt(2), r*sqrt(2)], so the completeness bound gives
    k=2 or, at the small-edge end, k=3; see the module docstring)."""
    if radius_m <= 0:
        raise ValueError(f"radius_m must be positive, got {radius_m}")
    return max(0, min(28, round(math.log2(WORLD / (SQRT3 * radius_m)))))


def hex_distance_join(
    probes: DataFrame,
    sites: DataFrame,
    radius_m: float,
    probe_id: str = "probe_id",
    site_id: str = "site_id",
    lon: str = "lon",
    lat: str = "lat",
    res: int | None = None,
) -> DataFrame:
    """All (probe, site) pairs within ``radius_m`` planar meters.

    Returns (probe_id, site_id, dist_m) with ``dist_m`` rounded to 1e-3 m.
    ``res`` overrides the auto resolution (coarser = fewer/bigger cells,
    more false candidates; finer = bigger ring). Raises when the override
    would need a ring past ``MAX_RING`` — that always means the res is
    far too fine for the radius."""
    if res is None:
        res = auto_res(radius_m)
    e = hex_edge_m(res)
    k = math.ceil((radius_m + 2.0 * e) / (1.5 * e))
    if k > MAX_RING:
        raise ValueError(
            f"radius {radius_m} m at res {res} (edge {e:.3g} m) needs a "
            f"k={k} ring ({3 * k * (k + 1) + 1} cells/probe). Use a coarser "
            f"res (auto_res picks {auto_res(radius_m)})."
        )

    def _merc(df: DataFrame, px: str, py: str) -> DataFrame:
        # 1e-3 m pre-rounding: the operator family's drift-proof distance
        # space (bit-identical between Spark and the SQL oracles)
        mx = F.round(F.radians(F.col(lon)) * F.lit(R), 3)
        my = F.round(
            F.lit(R)
            * F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(F.col(lat)) / 2)),
            3,
        )
        return df.withColumn(px, mx).withColumn(py, my)

    # the cell gets its own projection: hex_kring reads its cell five
    # times per ring cell, so an inline hex_encode would be copied into
    # the plan ~5 * (3k(k+1)+1) times (megabytes of expression at k=3)
    p = (
        _merc(probes, "_px", "_py")
        .select(F.col(probe_id), "_px", "_py", hex_encode(lon, lat, res).alias("_hc"))
        .select(probe_id, "_px", "_py", F.explode(hex_kring("_hc", k)).alias("_cell"))
    )
    s = _merc(sites, "_sx", "_sy").select(
        F.col(site_id), "_sx", "_sy", hex_encode(lon, lat, res).alias("_cell")
    )
    # explicit products (not pow): bit-identical with the oracle's x*x
    dx = F.col("_px") - F.col("_sx")
    dy = F.col("_py") - F.col("_sy")
    d2 = dx * dx + dy * dy
    return (
        p.join(s, "_cell")
        .filter(d2 <= F.lit(float(radius_m) ** 2))
        .select(
            probe_id,
            site_id,
            F.round(F.sqrt(d2), 3).alias("dist_m"),
        )
        # a site in several ring cells of the same probe would duplicate:
        # impossible (each site has ONE cell), so no distinct needed
    )
