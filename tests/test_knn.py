"""kNN join vs brute-force numpy oracle (exact sets incl. tie-break by id)."""

from __future__ import annotations

import numpy as np
import pytest

from landlensdb_spark import synth
from landlensdb_spark.operators.knn import _auto_res_info, knn_join


def _points(n, probe=False):
    i = np.arange(n, dtype=np.int64)
    if probe:
        return synth.np_probe_lon(i * 13 + 7), synth.np_probe_lat(i * 13 + 7)
    return synth.np_probe_lon(i), synth.np_probe_lat(i)


def brute_force_knn(plon, plat, nlon, nlat, k):
    from landlensdb_spark.geo.mercator import np_merc_x, np_merc_y

    px = np.round(np_merc_x(plon), 3)[:, None]
    py = np.round(np_merc_y(plat), 3)[:, None]
    nx = np.round(np_merc_x(nlon), 3)[None, :]
    ny = np.round(np_merc_y(nlat), 3)[None, :]
    d2 = (px - nx) ** 2 + (py - ny) ** 2
    ids = np.arange(d2.shape[1])
    out = []
    for i in range(d2.shape[0]):
        order = np.lexsort((ids, d2[i]))[:k]
        out.append([(int(j), float(d2[i, j])) for j in order])
    return out


def test_knn_matches_brute_force(spark):
    n_pts, n_probes, k = 2000, 150, 5
    nlon, nlat = _points(n_pts)
    plon, plat = _points(n_probes, probe=True)
    pts = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(nlon, nlat))],
        "point_id long, lon double, lat double",
    )
    prb = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(plon, plat))],
        "probe_id long, lon double, lat double",
    )
    got = (
        knn_join(prb, pts, k=k, res=14)
        .orderBy("probe_id", "rank")
        .toPandas()
    )
    want = brute_force_knn(plon, plat, nlon, nlat, k)
    assert len(got) == n_probes * k
    for pid in range(n_probes):
        rows = got[got["probe_id"] == pid]
        got_ids = list(rows["point_id"])
        want_ids = [j for j, _ in want[pid]]
        assert got_ids == want_ids, f"probe {pid}: {got_ids} != {want_ids}"
        assert np.allclose(rows["dist2"].to_numpy(), [d for _, d in want[pid]])


@pytest.mark.parametrize("res", [14, None])
def test_knn_sparse_fallback_still_exact(spark, res):
    # 10 points scattered world-wide -> rings stay empty, the fallback
    # brute-force path must fire and stay exact. res=None: the density probe
    # cannot meet its points-per-cell target on this field
    i = np.arange(10, dtype=np.int64)
    nlon, nlat = synth.np_lon(i * 101), synth.np_lat(i * 101)
    pts = spark.createDataFrame(
        [(int(j), float(a), float(b)) for j, (a, b) in enumerate(zip(nlon, nlat))],
        "point_id long, lon double, lat double",
    )
    prb = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 100.0, -40.0)], "probe_id long, lon double, lat double"
    )
    if res is None:
        assert _auto_res_info(pts, "lon", "lat", 3)[1] is False
    got = knn_join(prb, pts, k=3, res=res).orderBy("probe_id", "rank").toPandas()
    want = brute_force_knn(
        np.array([0.0, 100.0]), np.array([0.0, -40.0]), nlon, nlat, 3
    )
    assert len(got) == 6
    for pid in (0, 1):
        got_ids = list(got[got["probe_id"] == pid]["point_id"])
        assert got_ids == [j for j, _ in want[pid]]


def test_knn_no_broadcast_path_exact(spark):
    # self-kNN shape: probes too big to broadcast -> plain equi-joins + AQE
    n_pts, n_probes, k = 1500, 80, 4
    nlon, nlat = _points(n_pts)
    plon, plat = _points(n_probes, probe=True)
    pts = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(nlon, nlat))],
        "point_id long, lon double, lat double",
    )
    prb = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(plon, plat))],
        "probe_id long, lon double, lat double",
    )
    got = (
        knn_join(prb, pts, k=k, res=14, broadcast_probes=False)
        .orderBy("probe_id", "rank")
        .toPandas()
    )
    want = brute_force_knn(plon, plat, nlon, nlat, k)
    assert len(got) == n_probes * k
    for pid in range(n_probes):
        got_ids = list(got[got["probe_id"] == pid]["point_id"])
        assert got_ids == [j for j, _ in want[pid]], f"probe {pid}"


def test_knn_seam_probes_stay_exact(spark):
    """Probes hugging lon ±180: the metric is UNWRAPPED planar mercator (the
    oracle's (x1-x2)^2), so seam-crossing cells must never enter the ring
    certificate — a wrapped 'neighbor' at ~WORLD unwrapped distance would
    silently displace the true nearest just outside box r2."""
    rng = np.random.default_rng(3)
    east = 179.999 - rng.uniform(0, 0.02, 40)     # just west of the seam
    west = -179.999 + rng.uniform(0, 0.02, 40)    # just east of it (wrapped)
    lats = rng.uniform(-0.02, 0.02, 80)
    nlon = np.concatenate([east, west])
    pts = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(nlon, lats))],
        "point_id long, lon double, lat double",
    )
    plon = np.array([179.9995, -179.9995, 179.99, -179.99])
    plat = np.array([0.0, 0.0, 0.01, -0.01])
    prb = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(plon, plat))],
        "probe_id long, lon double, lat double",
    )
    got = knn_join(prb, pts, k=5, res=20).orderBy("probe_id", "rank").toPandas()
    want = brute_force_knn(plon, plat, nlon, lats, 5)
    assert len(got) == 20
    for pid in range(4):
        got_ids = list(got[got["probe_id"] == pid]["point_id"])
        assert got_ids == [j for j, _ in want[pid]], f"seam probe {pid}"


def test_knn_auto_res_matches_manual(spark):
    """res=None derives the grid from the occupancy histogram; results must
    equal the hand-tuned-res answer (both exact)."""
    n_pts, n_probes, k = 2000, 60, 5
    nlon, nlat = _points(n_pts)
    plon, plat = _points(n_probes, probe=True)
    pts = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(nlon, nlat))],
        "point_id long, lon double, lat double",
    )
    prb = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(plon, plat))],
        "probe_id long, lon double, lat double",
    )
    got = knn_join(prb, pts, k=k).orderBy("probe_id", "rank").toPandas()
    want = brute_force_knn(plon, plat, nlon, nlat, k)
    for pid in range(n_probes):
        got_ids = list(got[got["probe_id"] == pid]["point_id"])
        assert got_ids == [j for j, _ in want[pid]], f"probe {pid}"

    r = _auto_res_info(pts, "lon", "lat", k)[0]
    # ~2000 points in a ~0.1-degree urban field: the density rule must land
    # in the fine-grid regime, not the coarse flood regime
    assert 16 <= r <= 24


def test_auto_res_cache_misses_on_table_rewrite(spark, tmp_path):
    """Rewriting a point table at the SAME path must re-run the density
    probe (res cache keys the concrete part files, not just the plan) —
    the round-2 stale-res perf cliff."""
    path = str(tmp_path / "pts.parquet")

    def write(spread):
        i = np.arange(2000)
        lon = (i % 211) * spread / 211.0
        lat = (i // 211) * spread / 211.0
        spark.createDataFrame(
            [(int(a), float(b), float(c)) for a, b, c in zip(i, lon, lat)],
            "point_id long, lon double, lat double",
        ).coalesce(2).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    dense = write(0.05)        # ~2000 pts in 0.05 deg -> very fine grid
    r_dense = _auto_res_info(dense, "lon", "lat", 5)[0]
    sparse = write(120.0)      # same path, now spread over 120 deg
    r_sparse = _auto_res_info(sparse, "lon", "lat", 5)[0]
    assert r_sparse != r_dense, "stale res reused after rewrite"
    assert r_dense > r_sparse  # denser field -> finer grid


def test_knn_escalation_resolves_without_cross_product(spark):
    """A probe the ring-1 pass cannot certify but the ring-4 escalation
    pass can must come back exact WITH BRUTE FORCE FORBIDDEN
    (max_fallback_probes=0 raises on any residual probe) — proof the
    escalation branch, not the cartesian, resolved it."""
    res = 14
    cell_deg = 360.0 / (1 << res)
    # 10 points inside one cell near the origin; probe ~3 cells east:
    # box 1 around the probe is empty, box 4 (the escalation ring) contains
    # all 10 points -> certified exact
    nlon = 0.001 + np.arange(10) * 1e-5
    nlat = np.full(10, 0.001)
    pts = spark.createDataFrame(
        [(int(j), float(a), float(b)) for j, (a, b) in enumerate(zip(nlon, nlat))],
        "point_id long, lon double, lat double",
    )
    prb = spark.createDataFrame(
        [(0, 0.001 + 3 * cell_deg, 0.001)], "probe_id long, lon double, lat double"
    )
    got = (
        knn_join(prb, pts, k=3, res=res, max_fallback_probes=0)
        .orderBy("rank")
        .toPandas()
    )
    want = brute_force_knn(
        np.array([0.001 + 3 * cell_deg]), np.array([0.001]), nlon, nlat, 3
    )
    assert list(got["point_id"]) == [j for j, _ in want[0]]


def test_knn_ocean_probes_hit_fallback_cap(spark):
    """An all-ocean probe batch (nothing within any ring) larger than
    max_fallback_probes must RAISE with the documented message instead of
    detonating an |unresolved| x N cross product."""
    i = np.arange(50, dtype=np.int64)
    nlon, nlat = synth.np_lon(i * 101), synth.np_lat(i * 101)
    pts = spark.createDataFrame(
        [(int(j), float(a), float(b)) for j, (a, b) in enumerate(zip(nlon, nlat))],
        "point_id long, lon double, lat double",
    )
    # 5 probes in the middle of nowhere at a very fine grid: no ring (not
    # even the escalation) can certify them
    prb = spark.createDataFrame(
        [(int(j), -140.0 + j * 0.001, -45.0) for j in range(5)],
        "probe_id long, lon double, lat double",
    )
    with pytest.raises(Exception, match="max_fallback_probes|brute-force"):
        knn_join(prb, pts, k=3, res=24, max_fallback_probes=2).collect()


def test_knn_ocean_probes_under_cap_stay_exact(spark):
    """The same all-ocean batch UNDER the cap still brute-forces exactly."""
    i = np.arange(50, dtype=np.int64)
    nlon, nlat = synth.np_lon(i * 101), synth.np_lat(i * 101)
    pts = spark.createDataFrame(
        [(int(j), float(a), float(b)) for j, (a, b) in enumerate(zip(nlon, nlat))],
        "point_id long, lon double, lat double",
    )
    plon = np.array([-140.0, -139.999])
    plat = np.array([-45.0, -45.0])
    prb = spark.createDataFrame(
        [(int(j), float(a), float(b)) for j, (a, b) in enumerate(zip(plon, plat))],
        "probe_id long, lon double, lat double",
    )
    got = (
        knn_join(prb, pts, k=3, res=24, max_fallback_probes=10)
        .orderBy("probe_id", "rank")
        .toPandas()
    )
    want = brute_force_knn(plon, plat, nlon, nlat, 3)
    for pid in (0, 1):
        assert list(got[got["probe_id"] == pid]["point_id"]) == [
            j for j, _ in want[pid]
        ]


@pytest.mark.parametrize("res", [14, 20])
def test_knn_hex_grid_matches_brute_force(spark, res):
    """grid="hex" (round-6 verdict #6): identical exact results via
    isotropic hex rings. The hex certificate r2 = ceil((sqrt3*r1+4)/1.5 - 1)
    must stay exact, including probes that fall through to escalation or
    brute force."""
    n_pts, n_probes, k = 2000, 120, 5
    nlon, nlat = _points(n_pts)
    plon, plat = _points(n_probes, probe=True)
    pts = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(nlon, nlat))],
        "point_id long, lon double, lat double",
    )
    prb = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(plon, plat))],
        "probe_id long, lon double, lat double",
    )
    got = (
        knn_join(prb, pts, k=k, res=res, grid="hex")
        .orderBy("probe_id", "rank")
        .toPandas()
    )
    want = brute_force_knn(plon, plat, nlon, nlat, k)
    assert len(got) == n_probes * k
    for pid in range(n_probes):
        rows = got[got["probe_id"] == pid]
        assert list(rows["point_id"]) == [j for j, _ in want[pid]], f"probe {pid}"
        assert np.allclose(rows["dist2"].to_numpy(), [d for _, d in want[pid]])


def test_knn_hex_seam_probes_stay_exact(spark):
    """Hex axial coords are linear in UNWRAPPED mercator x — the plane
    never wraps, so seam probes are exact by construction (the square
    grid needs an explicit NULL guard for this; hex cells across the seam
    are simply ~WORLD apart in axial space)."""
    rng = np.random.default_rng(3)
    east = 179.999 - rng.uniform(0, 0.02, 40)
    west = -179.999 + rng.uniform(0, 0.02, 40)
    lats = rng.uniform(-0.02, 0.02, 80)
    nlon = np.concatenate([east, west])
    pts = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(nlon, lats))],
        "point_id long, lon double, lat double",
    )
    plon = np.array([179.9995, -179.9995, 179.99, -179.99])
    plat = np.array([0.0, 0.0, 0.01, -0.01])
    prb = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(plon, plat))],
        "probe_id long, lon double, lat double",
    )
    got = (
        knn_join(prb, pts, k=5, res=20, grid="hex")
        .orderBy("probe_id", "rank")
        .toPandas()
    )
    want = brute_force_knn(plon, plat, nlon, lats, 5)
    assert len(got) == 20
    for pid in range(4):
        got_ids = list(got[got["probe_id"] == pid]["point_id"])
        assert got_ids == [j for j, _ in want[pid]], f"seam probe {pid}"
