"""Input generators and the engine-independent check logic (no Spark)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from landlensdb_spark import synth, tables
from perfbench import workloads as W


def test_matches_exact_ints_and_relative_floats():
    assert W.matches((3, 10, 2.5), (3, 10, 2.5 + 1e-12))
    assert not W.matches((3, 10, 2.5), (3, 11, 2.5))
    assert not W.matches((3, 10, 2.5), (3, 10, 2.6))
    assert W.matches((1.0,), (1.0 + 1e-8,), rel=1e-6)
    assert not W.matches((1, 2), (1, 2, 3))
    assert not W.matches(None, (1,))
    assert not W.matches((None,), (0,))


@pytest.mark.parametrize("start", [0, 7, W.key_offset(3), W.key_offset(1999)])
def test_page_rows_match_the_library_generator(start):
    ids = np.arange(start, start + 40)
    cols = W.page_columns(ids)
    ts = cols["warc_ts"].cast(pa.int64()).to_pylist()
    for k, i in enumerate(ids.tolist()):
        url, warc_ts, html, text, lang = tables.build_page_row(i, clustered=True)
        assert cols["url"][k] == url
        assert cols["html"][k].as_py() == html
        assert cols["text"][k] == text
        assert cols["lang"][k] == lang
        assert ts[k] == warc_ts * 1_000_000


def test_seeds_shift_row_ids_and_stay_inside_int64():
    assert W.key_offset(0) != W.key_offset(1)
    worst = W.key_offset(W.MAX_SEED_SLOTS - 1) + 10**6
    assert worst * max(synth.LAT_MUL, synth.LON_MUL) < 2**63


def test_documents_are_seeded():
    a, b, c = W.doc_columns(1, 0, 300), W.doc_columns(1, 0, 300), W.doc_columns(2, 0, 300)
    assert a["text"] == b["text"]
    assert a["text"] != c["text"]
    joined = " ".join(a["text"])
    assert "@example.com" in joined and "555-" in joined and " 10." in joined
    assert len(set(a["text"])) < len(a["text"])  # exact duplicates for dedup


def test_snap_expected_matches_brute_force():
    keys = np.arange(5_000, 9_000)
    lon, lat = W.np_snap_lonlat(keys)
    assert (lat >= synth.ROAD_LAT_MIN).all() and (lat < synth.ROAD_LAT_MAX).all()
    n, ids = 0, 0
    for x in lon:
        d = [abs(np.radians(x) - np.radians(synth.P_LON_BASE + synth.road_lon_micro(j) / 1e6))
             * synth.MERC_R for j in range(synth.N_ROADS)]
        j = int(np.argmin(d))
        if d[j] <= 100.0:
            n, ids = n + 1, ids + j
    assert W.snap_expected(keys) == (n, ids)


def test_knn_expected_matches_full_sort():
    pts = np.arange(100, 3_100)
    prb = np.arange(0, 40) * 13 + 7
    nx, ny = W._merc(synth.np_probe_lon(pts), synth.np_probe_lat(pts))
    px, py = W._merc(synth.np_probe_lon(prb), synth.np_probe_lat(prb))
    want = sum(np.sort((nx - x) ** 2 + (ny - y) ** 2)[:5].sum() for x, y in zip(px, py))
    rows, ids, total = W.knn_expected(pts, prb, 5)
    assert rows == 200 and ids == int(prb.sum()) * 5
    assert total == pytest.approx(want, rel=1e-12)


def test_knn_probe_counts_respect_the_probe_period():
    s = W.SIZES["point_join_corpus"]
    assert s["knn_points"] <= W.PROBE_PERIOD and s["knn_probes"] <= W.PROBE_PERIOD
