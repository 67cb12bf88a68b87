"""kNN join: density-picked grid -> certify-in-join at ring 1 -> top-k.

Generalizes the reference's nearest-1 index probe
(/root/reference/landlensdb/process/snap.py:34-53) to distributed k-nearest.
Earlier revisions used a driver-side doubling loop (grow the ring until the
distance certificate holds — the Spark analog of the reference's
grow-until-found bbox recursion, cloud.py:963-977). That loop launches a
job-chain per round (join, window, split, isEmpty) whose fixed latency
dominates at small-probe scale and *inverts* scaling: more cores = more tiny
tasks per round. This version picks the grid so that a constant ring
certifies nearly every probe, and certifies inside the candidate join:

1. ``res`` comes from an HLL density probe over the point side (one
   single-stage job: the count and the sketches are observed on a noop
   write; memoized per table) unless the caller passes it; both sides then
   get a cell id on the square Morton grid
   (:func:`landlensdb_spark.geo.cells.cell_encode`).
2. **Candidate join at ring 1**: every probe explodes the constant box
   ``r2 = _r2_int(1)`` tagged with each cell's ring index,
   broadcast-joins points on the cell long, and drops candidates beyond
   the certified distance bound before the exchange.
3. **Certificate in the same window**: one sort feeds both
   ``row_number() OVER (PARTITION BY probe ORDER BY dist2, neighbor_id)``
   (the reference's sort + group-first argmin, snap.py:218-221, generalized
   from 1 to k; deterministic tie-break by neighbor id) and a
   whole-partition count of candidates within ring 1. A probe with >= k of
   them is provably exact (certificate geometry on :func:`_r2_int`).
4. The certified top-k is checkpointed eagerly and the driver asks whether
   any probe is left; normally none is and that is the result.
5. **Escalation**: uncertified probes get one more certify-in-join pass at
   ring 4.
6. **Brute force**: probes ring 4 cannot certify cross-join the point
   table, capped at ``max_fallback_probes`` probes (beyond it the job
   raises), so results are always exact.

With broadcast probes the point side is never shuffled by a join; the one
data-sized shuffle is the window's exchange of the bound-filtered candidate
rows. ``broadcast_probes=False`` pins the joins to SHUFFLE_HASH for
large probe sets (self-kNN): merely leaving the strategy to AQE lets it
re-broadcast the exploded probe-cells side under the byte threshold, whose
driver-side hash-relation build is a probe-count-proportional serial term.

Distances are squared EPSG:3857 meters (monotonic — avoids sqrt entirely);
coords are pre-rounded to 1e-3 m for cross-engine float parity (synth.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from landlensdb_spark.geo.cells import _RES_SHIFT, _X_SHIFT, _cell_sql, _cell_x_sql, _cell_y_sql
from landlensdb_spark.geo.mercator import R
from landlensdb_spark.geo.tiles import _tile_x_sql, _tile_y_sql

WORLD = 2.0 * math.pi * R

# every projection, filter and window below is SQL text: one selectExpr or
# F.expr parses on the JVM what would otherwise be one py4j round trip per
# Column node (double constants carry the D suffix: a bare 2.0 is DECIMAL)

#: the top-k order: distance, then neighbor id (deterministic tie-break)
_W = "PARTITION BY _pid ORDER BY dist2 ASC, _nid ASC"
_DIST2 = "(_px - _nx) * (_px - _nx) + (_py - _ny) * (_py - _ny)"


def _merc_sql(lon: str, lat: str, px: str, py: str) -> list[str]:
    """EPSG:3857 meters of ``lon``/``lat``, rounded to 1e-3 m, as ``px``/``py``."""
    return [
        f"round(radians({lon}) * {R!r}D, 3) AS {px}",
        f"round({R!r}D * ln(tan({math.pi / 4.0!r}D + radians({lat}) / 2)), 3) AS {py}",
    ]


def _cell_shift(cell: str, dx: str, dy: str, res: int) -> str:
    """Neighbor cell id at offset (dx, dy); out-of-range x OR y -> NULL.

    x deliberately does NOT wrap at the antimeridian: distances here are
    UNWRAPPED planar mercator (the operator's documented metric, matching
    the SQL oracle's (x1-x2)^2). Wrapping x would count seam-crossing cells
    toward the ring certificate while their unwrapped distance is ~WORLD —
    a probe near lon 180 could then be 'certified' with wrapped neighbors
    while the true (unwrapped) nearest sits just outside box r2. With NULL,
    seam boxes simply see fewer cells, and probes that cannot certify fall
    through to the exact brute-force pass."""
    n = 1 << res
    nx = f"({_cell_x_sql(cell)} + {dx})"
    ny = f"({_cell_y_sql(cell)} + {dy})"
    return (
        f"CASE WHEN {nx} >= 0 AND {nx} < {n} AND {ny} >= 0 AND {ny} < {n}"
        f" THEN cast({res} as bigint) * {1 << _RES_SHIFT}"
        f" + shiftleft({nx}, {_X_SHIFT}) + {ny} END"
    )


def _r2_int(r1: int) -> int:
    """Chebyshev box radius that provably holds the exact top-k of a probe
    whose box ``r1`` holds >= k points.

    Certificate geometry (cell side s): a candidate in box r1 is within
    sqrt(2)*(r1+1)*s of the probe; any point at cell offset c is at least
    (c-1)*s away, so box r2 = ceil(sqrt(2)*(r1+1)) provably contains the
    exact top-k. Box r scans (2r+1)^2 cells."""
    return math.ceil(math.sqrt(2.0) * (r1 + 1))


def _bound_m(r1: int, res: int) -> float:
    """Upper bound (meters) on the k-th neighbor distance of a probe whose
    box ``r1`` holds >= k points: every such point is within sqrt(2)*(r1+1)
    cell sides (the certificate geometry of :func:`_r2_int`)."""
    return math.sqrt(2.0) * (r1 + 1) * (WORLD / (1 << res))


def _auto_res_info(points: DataFrame, lon: str, lat: str, k: int) -> tuple[int, bool]:
    """(res, met_target): pick the expansion grid from OBSERVED density — the finest resolution
    whose average points per occupied cell is still >= k/2 (so ring 1
    certifies nearly every probe and box r2 holds O(k) candidates). One
    map-side HLL pass computes all candidate resolutions at once; hand-tuned
    ``res`` remains available for callers that want to skip the probe scan.
    ``met_target`` is False when no candidate res met the target (the
    coarsest one is returned); ring 1 then certifies fewer probes and more
    of them reach the escalation and brute-force passes.

    Rationale for k/2 (measured, bench.py): cells at ~k points average make
    r2 boxes of ~(2*ceil(sqrt2*2)+1)^2/4 * k candidates; halving the cell
    population roughly halves candidate rows while box 1 (9 cells) still
    holds ~4.5*(k/2) points — the sweet spot the bench's hand-tuned res 20
    sits on. A too-coarse pick is the real failure mode (res 16 there =
    ~1300 pts/cell = ~60M window rows), so ties err fine-side.
    """
    # memoized per (point-plan, data snapshot, columns, k): repeated kNN
    # calls against the same point table (the production shape — one index,
    # many probe batches) pay the density probe once, like snap's
    # network-prep cache. inputFiles() folds the concrete part-file names
    # into the key: Spark writes job-unique part names, so rewriting a
    # table at the same path yields a different key and a fresh probe —
    # the plan-only semanticHash alone would reuse a stale res there.
    try:
        snap = hash(tuple(sorted(points.inputFiles())))
        memo_key = (
            points._jdf.queryExecution().analyzed().semanticHash(),
            snap,
            lon,
            lat,
            k,
        )
        if memo_key in _RES_CACHE:
            return _RES_CACHE[memo_key]
    except Exception:  # pragma: no cover - semanticHash unavailable
        memo_key = None

    cands = list(range(6, 25))
    base = max(cands)
    # one trig pass at the finest candidate res; every coarser cell id is a
    # bit-shift of it (per-res transcendental projections otherwise dominate
    # the probe). Coarse HLL precision (rsd 0.15) is plenty: occupancy moves
    # ~4x per even/odd ladder step, and the cheap sketches cut the probe
    # from ~1.9s to ~0.4s on the 150k-point bench field. Step 1 (r08): the
    # old step-2 ladder quantized occupancy by 4x, so a field whose true
    # k/2 crossing sits between rungs landed a rung low and quadrupled the
    # candidate rows (bench field: step-2 picked res 18 at ~20 pts/cell =
    # 2.0M candidates where res 19 at ~5 pts/cell certifies identically
    # with ~0.5M) — nine extra shift-derived HLL sketches in the same pass
    # are far cheaper than 4x the candidate join.
    xy = points.selectExpr(
        f"{_tile_x_sql(lon, base)} AS _x", f"{_tile_y_sql(lat, base)} AS _y"
    )
    # the count and the sketches ride an observe on a noop write: one
    # single-stage job, where agg(...).first() ran a map job and a result
    # job under AQE. The sketches' 134 buffer attributes (7 words per
    # rsd-0.15 sketch) now live in the observation's accumulator, not in a
    # HashAggregate's rendered output: the CollectMetrics node lists its 20
    # metrics, under spark.sql.debug.maxToStringFields (25), so Spark no
    # longer logs "Truncated the string representation of a plan" here.
    obs = Observation()
    xy.observe(
        obs,
        F.expr("count(1) AS _n"),
        *[
            F.expr(
                f"approx_count_distinct(shiftleft(shiftright(_x, {base - r}), 29)"
                f" + shiftright(_y, {base - r}), 0.15D) AS _c{r}"
            )
            for r in cands
        ],
    ).write.format("noop").mode("overwrite").save()
    row = obs.get
    n = row["_n"]
    if not n:
        return (12, False)
    best, met = cands[0], False
    # one-rsd slack on the acceptance test (r08): the occupancy estimate
    # n/HLL(cells) carries the sketch's 15% error, and rejecting a rung
    # whose TRUE average meets the target quadruples+ the candidate rows
    # (bench field: res 19 holds exactly 5.3 pts/cell but estimated ~4.9
    # and was rejected — measured 0.66s vs 1.0s warm per call). A rung
    # admitted one sigma early still certifies comfortably (box 1 holds
    # ~9*target/1.15 = ~3.9k points for k>=2) and uncertified probes fall
    # through to the exact escalation pass regardless.
    target = max(k / 2.0, 1.0) / 1.15
    for r in cands:  # ascending: keep the finest res that still meets target
        if n / max(row[f"_c{r}"], 1) >= target:
            best, met = r, True
    out = (best, met)
    if memo_key is not None:
        if len(_RES_CACHE) >= 64:
            _RES_CACHE.pop(next(iter(_RES_CACHE)))
        _RES_CACHE[memo_key] = out
    return out


#: keyed by (plan semanticHash, sorted-inputFiles hash, cols, k) — the
#: file-name component makes a rewrite at the same path a cache MISS
#: (Spark part names are job-unique), so no manual invalidation is needed
#: for file-backed tables. clear_res_cache() remains for exotic sources
#: whose inputFiles() is empty (e.g. JDBC) where only the plan is keyed.
_RES_CACHE: dict = {}


def clear_res_cache() -> None:
    _RES_CACHE.clear()


def _certify_join(pts, prb_sub, res, r1c, k, maybe_bc):
    """Certify-in-join pass at constant box radius ``r1c``: candidates
    come from box ``r2c = _r2_int(r1c)``; a probe whose box ``r1c`` holds
    >= k points is provably exact (certificate geometry on :func:`_r2_int`).
    Certification reads the ring tag riding the exploded box, sharing the
    candidate join's one shuffle. Returns the certified (_pid, _nid, dist2,
    rank) rows only."""
    r2c = _r2_int(r1c)
    box = f"explode(sequence({-r2c}, {r2c}))"
    probe_cells = (
        prb_sub.selectExpr("_pid", "_px", "_py", "_pcell", f"{box} AS _dx")
        .selectExpr("_pid", "_px", "_py", "_pcell", "_dx", f"{box} AS _dy")
        .selectExpr(
            "_pid",
            "_px",
            "_py",
            "greatest(abs(_dx), abs(_dy)) AS _ring",
            f"{_cell_shift('_pcell', '_dx', '_dy', res)} AS _jc",
        )
        .filter("_jc IS NOT NULL")
    )
    # certificate pre-filter BEFORE the exchange+sort: a certified probe's
    # k-th distance is <= _bound_m(r1c, res) (>= k points inside box r1c,
    # each within the bound), so any candidate beyond it can only ever rank
    # > k — dropping it changes neither the kept rows nor their ranks, and
    # every ring-<=r1c row (the _nclose evidence) is itself within the
    # bound, so certification is unchanged. Cuts the box-r2c corner mass
    # (~half the candidate rows on a uniform field) out of the shuffle and
    # the window sort (guide §2.3: shuffle fewer bytes). The +1cm slack
    # covers the 1e-3 m mercator rounding of both endpoints.
    bound2 = (_bound_m(r1c, res) + 0.01) ** 2
    # the within-r1c count is order-independent, so it can ride the SAME
    # (partition, order) spec as the top-k row_number with an explicit
    # whole-partition frame — one Sort feeds both Window operators instead
    # of the unordered sum forcing its own second sort of the candidate set
    return (
        pts.join(maybe_bc(probe_cells), F.expr("_ncell = _jc"), "inner")
        .selectExpr("_pid", "_nid", "_ring", f"{_DIST2} AS dist2")
        .filter(f"dist2 <= {bound2!r}D")
        .selectExpr(
            "_pid",
            "_nid",
            "dist2",
            f"sum(CASE WHEN _ring <= {r1c} THEN 1 ELSE 0 END) OVER ({_W}"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS _nclose",
            f"row_number() OVER ({_W}) AS rank",
        )
        .filter(f"_nclose >= {k} AND rank <= {k}")
        .select("_pid", "_nid", "dist2", "rank")
    )


def _guarded_bruteforce(unresolved, pts, k, max_fallback_probes):
    """Exact brute-force pass for probes no ring could certify, with a
    LAZY size guard: the worst case is |unresolved| * N shuffle rows (a
    batch of ocean probes against 10^9 points would detonate), so the
    probe side is limited to ``max_fallback_probes + 1`` rows, gathered
    into one list whose size an assert_true checks — a clear runtime error
    when the cap is exceeded, no driver-side count action, no histogram
    aggregation (the list is one keyless collect of at most cap + 1 rows).
    Under the cap the limit is a no-op, so results stay exact."""
    sel = unresolved.select("_pid", "_px", "_py")
    if max_fallback_probes is not None:
        # a row_number over the limited rows would need a window with no
        # partition spec (WindowExec warns on every run); the list's size
        # is the same count without one
        capped = sel.limit(max_fallback_probes + 1).agg(
            F.expr("collect_list(struct(_pid, _px, _py)) AS _r")
        )
        guard = (
            f"assert_true(size(_r) <= {max_fallback_probes}, 'knn_join: more than "
            f"{max_fallback_probes} probes fell through to the brute-force "
            "fallback (each one cross-joins the ENTIRE point table). The point "
            "field is too sparse for the grid: pass a coarser res, or raise "
            "max_fallback_probes if the cross product is genuinely intended.')"
        )
        # the filter forces the assert; it is always true
        sel = capped.filter(f"{guard} IS NULL").selectExpr("inline(_r)")
    return (
        sel.crossJoin(pts.drop("_ncell"))
        .selectExpr("_pid", "_nid", f"{_DIST2} AS dist2")
        .selectExpr("*", f"row_number() OVER ({_W}) AS rank")
        .filter(f"rank <= {k}")
    )


def knn_join(
    probes: DataFrame,
    points: DataFrame,
    k: int,
    probe_id: str = "probe_id",
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    res: int | None = None,
    broadcast_probes: bool = True,
    max_fallback_probes: int | None = 10_000,
) -> DataFrame:
    """Exact k-nearest ``points`` for every probe row.

    Returns (probe_id, point_id, dist2, rank) with rank in 1..k. ``res`` is
    the expansion grid (cell side = 40,075 km / 2^res); default None derives
    it from the observed cell occupancy (see ``_auto_res_info``) — pass it
    explicitly only to skip that probe scan.

    ``broadcast_probes=False`` for probe sets too big to broadcast
    (e.g. self-kNN); the joins are then PINNED to shuffle_hash — both sides
    shuffle on the cell key and AQE only re-plans partition counts/skew,
    never back to a broadcast whose driver-side build would serialize the
    exploded probe boxes (see the maybe_bc comment below for the measured
    cost).

    Every probe is certified at ring 1; probes that ring cannot certify get
    ONE certify-in-join escalation at ring 4, and the residual brute-force
    pass is capped at ``max_fallback_probes`` probes — beyond that the job
    RAISES instead of detonating an |unresolved| x N cross product (None
    disables the cap).

    Spark work done here, before the caller's action:

    - the density probe, one single-stage job (a noop write observing the
      count and the sketches), unless ``res`` is given or memoized for this
      point table;
    - the certified top-k of the ring-1 pass, materialized by an eager
      ``localCheckpoint`` (the candidate join, its exchange and window);
    - one ``isEmpty()`` job asking whether any probe is left uncertified.

    The escalation and brute-force passes, when needed, are lazy and run in
    the caller's action. With ``broadcast_probes=False``, a fresh density
    probe and every probe certified at ring 1, that is 8 jobs. Every
    projection is SQL text, so building the plan costs a few hundred py4j
    round trips; ``lon``, ``lat``, ``point_id`` and ``probe_id`` are column
    names.
    """
    if res is None:
        res = _auto_res_info(points, lon, lat, k)[0]

    pts = points.selectExpr(
        f"{point_id} AS _nid",
        *_merc_sql(lon, lat, "_nx", "_ny"),
        f"{_cell_sql(lon, lat, res)} AS _ncell",
    )
    prb = probes.selectExpr(
        f"{probe_id} AS _pid",
        *_merc_sql(lon, lat, "_px", "_py"),
        f"{_cell_sql(lon, lat, res)} AS _pcell",
    )
    if broadcast_probes:
        maybe_bc = F.broadcast
    else:
        # broadcast_probes=False must actually FORCE the shuffled shape, not
        # merely omit the broadcast hint: AQE re-broadcasts the exploded
        # probe-cells side whenever its runtime bytes land under
        # autoBroadcastJoinThreshold, and the driver-side hash-relation
        # build of millions of exploded rows is then a serial term that
        # grows linearly with the probe count (measured at bench shape,
        # mult 64 / 128k probes: Amdahl serial 5.7s -> 2.4s and 2->8-core
        # paired efficiency 0.57 -> 0.76 once the joins are pinned to
        # shuffle_hash). shuffle_hash (not merge) keeps the build-side hash
        # semantics without sorting either side.
        def maybe_bc(df: DataFrame) -> DataFrame:
            return df.hint("shuffle_hash")

    # topk feeds BOTH the result union and the unresolved anti-join's
    # broadcast build; without a materialization point the candidate join +
    # window pipeline executes twice inside the one action (measured ~2x the
    # whole operator's wall at bench scale). The checkpoint is EAGER
    # deliberately: under AQE a lazy checkpoint's toRdd already materializes
    # every query stage at construct time (measured r08 — the "lazy" variant
    # cost the same 0.6-0.7s here), and an eager one lets the driver ask the
    # cheap question below.
    topk = _certify_join(pts, prb, res, 1, k, maybe_bc).localCheckpoint(eager=True)
    unresolved = prb.join(maybe_bc(topk.select("_pid")), "_pid", "left_anti")
    # driver short-circuit: when ring 1 certified EVERY probe (the
    # overwhelmingly common case at a sane res — the density probe targets
    # >= k/2 points/cell exactly so box 1 certifies), the escalation +
    # brute-force branches are provably empty. Asking isEmpty() here is one
    # probe-side job over the already-materialized checkpoint; skipping the
    # two extra branches saves their Catalyst planning + AQE stage
    # materialization (~0.8s fixed latency at bench shape) and a second
    # full scan of the point side.
    if not unresolved.isEmpty():
        esc = _certify_join(pts, unresolved, res, 4, k, maybe_bc)
        esc = esc.localCheckpoint(eager=False)
        residual = unresolved.join(maybe_bc(esc.select("_pid")), "_pid", "left_anti")
        fallback = _guarded_bruteforce(residual, pts, k, max_fallback_probes)
        topk = topk.unionByName(esc).unionByName(fallback)
    return topk.selectExpr(
        f"_pid AS `{probe_id}`", f"_nid AS `{point_id}`", "dist2", "rank"
    )
