"""Extraction contract: byte-identical text per url, exact lat/lon recovery
from both the microdata and EXIF-DMS html forms, null-geotag filtering."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from landlensdb_spark import tables
from landlensdb_spark.extract import extract_geotag_pdf, extract_geotags

N = 400


def test_pandas_kernel_exact_roundtrip():
    rows = [tables.build_page_row(i) for i in range(N)]
    pdf = pd.DataFrame(rows, columns=["url", "ts", "html", "text", "lang"])
    out = extract_geotag_pdf(pdf["html"])

    # byte-identical text for every row
    assert (out["text"] == pdf["text"]).all()

    i = np.arange(N)
    has_geo = tables.np_has_geo(i)
    lon, lat = tables.np_page_coords(i)
    # geotagged rows: exact 6-dp coordinates from BOTH html forms
    got_lat = out["lat"].to_numpy()
    got_lon = out["lon"].to_numpy()
    assert np.isnan(got_lat[~has_geo]).all()
    assert np.isnan(got_lon[~has_geo]).all()
    assert (got_lat[has_geo] == np.round(lat[has_geo], 6)).all()
    assert (got_lon[has_geo] == np.round(lon[has_geo], 6)).all()
    # both forms actually exercised
    assert tables.np_is_exif(i)[has_geo].sum() > 10


def test_dms_block_is_exact_rational():
    # DMS reconstruction must be exact at 6 dp for every micro-degree value
    rng = np.random.default_rng(0)
    for micro in rng.integers(-180_000_000, 180_000_000, 2000):
        a = abs(int(micro))
        d, rem = divmod(a, 1_000_000)
        m, rem2 = divmod(rem * 60, 1_000_000)
        s = (rem2 * 60) / 1_000_000
        dec = d + m / 60.0 + s / 3600.0
        assert round(dec, 6) == a / 1_000_000


def test_spark_extraction_end_to_end(spark):
    df = tables.pages(spark, 300, num_partitions=4)
    out = extract_geotags(df).select("url", "lat", "lon", "text", "text_extracted")
    pdf = out.toPandas()
    # 80% geotagged
    assert len(pdf) == sum(1 for i in range(300) if i % 5 != 0)
    assert (pdf["text"] == pdf["text_extracted"]).all()

    kept = extract_geotags(df, drop_untagged=False).count()
    assert kept == 300


def test_pages_generator_partition_invariance(spark):
    a = tables.pages(spark, 120, num_partitions=2).orderBy("url").toPandas()
    b = tables.pages(spark, 120, num_partitions=7).orderBy("url").toPandas()
    assert (a["html"] == b["html"]).all()
    assert (a["text"] == b["text"]).all()
    assert (a["warc_ts"] == b["warc_ts"]).all()


def test_arrow_kernel_matches_pandas_oracle():
    """The RE2/Arrow hot-path kernel must agree with the pandas reference
    kernel row-for-row (incl. NaN placement and text bytes)."""
    import pandas as pd
    import pyarrow as pa

    from landlensdb_spark.extract import extract_geotag_pa, extract_geotag_pdf

    html = pd.Series([tables.build_page_row(i, clustered=True)[2] for i in range(5000)])
    a = extract_geotag_pdf(html).reset_index(drop=True)
    lat, lon, text = extract_geotag_pa(pa.array(html.values, pa.binary()).cast(pa.string()))
    b = pd.DataFrame({"lat": lat, "lon": lon, "text": text.to_pandas()})
    assert (a["lat"].fillna(-999).round(6) == b["lat"].fillna(-999).round(6)).all()
    assert (a["lon"].fillna(-999).round(6) == b["lon"].fillna(-999).round(6)).all()
    assert (a["text"].fillna("") == b["text"].fillna("")).all()


# ---------------------------------------------------------------------------
# r08: adversarial edges of the extraction format, pinning the OPERATOR
# against the RE2 Arrow kernel (extract_geotag_pa — the production semantic
# the oracle rows were built on): per-coordinate DMS-wins/NaN-fallback,
# 0/0-rational NaN, 'nan' content, empty vs missing text element. Written
# while evaluating a pure-Catalyst extraction twin (see BENCH/ATTEMPTS.md
# r08 — rejected: slower at the bench scale); kept because the contracts
# they pin are implementation-independent.
# ---------------------------------------------------------------------------

_META = (
    '<meta property="place:location:latitude" content="{lat}"/>'
    '<meta property="place:location:longitude" content="{lon}"/>'
)
_DMS = (
    '<script type="application/x-exif">'
    "GPSLatitude=({la});GPSLatitudeRef={lar}"
    "GPSLongitude=({lo});GPSLongitudeRef={lor}</script>"
)


def _page(body, text='<p data-text="1">hello</p>'):
    return f"<html><head>{body}</head><body>{text}</body></html>".encode()


_EDGE_ROWS = [
    # (name, html)
    ("meta_plain", _page(_META.format(lat="12.345678", lon="-98.7654"))),
    ("dms_plain", _page(_DMS.format(la="12,30,0/1000000", lar="N",
                                    lo="45,15,30000000/1000000", lor="W"))),
    ("dms_south", _page(_DMS.format(la="3,4,5000000/1000000", lar="S",
                                    lo="6,7,8000000/1000000", lor="E"))),
    # both forms present: DMS wins per coordinate (arrow-kernel rule)
    ("both_dms_wins", _page(_DMS.format(la="1,0,0/1", lar="N", lo="2,0,0/1", lor="E")
                            + _META.format(lat="50", lon="60"))),
    # 0/0 rational -> NaN DMS value -> per-coordinate fallback to meta
    ("dms_nan_falls_to_meta", _page(_DMS.format(la="0,0,0/0", lar="N",
                                                lo="1,2,3/4", lor="W")
                                    + _META.format(lat="7.5", lon="8.5"))),
    # n/0 rational: NaN like 0/0, never inf
    ("dms_zero_den_falls_to_meta", _page(_DMS.format(la="10,5,3/0", lar="N",
                                                     lo="1,2,3/4", lor="W")
                                         + _META.format(lat="7.5", lon="8.5"))),
    # 'nan' content: NaN -> untagged (numpy-kernel NaN-space rule)
    ("meta_nan_string", _page(_META.format(lat="nan", lon="5"))),
    # only one coordinate present -> untagged
    ("meta_lat_only",
     _page('<meta property="place:location:latitude" content="1.5"/>')),
    ("untagged", _page("")),
    # empty text element: '' (a match), NOT null
    ("empty_text", _page(_META.format(lat="1", lon="2"),
                         text='<p data-text="1"></p>')),
    # no text element at all: null
    ("no_text", _page(_META.format(lat="1", lon="2"), text="<div>x</div>")),
]


def test_jvm_extraction_matches_arrow_kernel_on_edges(spark):
    import math

    from landlensdb_spark.extract import extract_geotag_pa
    import pyarrow as pa

    df = spark.createDataFrame(
        [(n, h) for n, h in _EDGE_ROWS], "name string, html binary"
    )
    got = {
        r["name"]: (r["lat"], r["lon"], r["text_extracted"])
        for r in extract_geotags(df, drop_untagged=False).collect()
    }

    arr = pa.array([h for _, h in _EDGE_ROWS], type=pa.binary()).cast(pa.string())
    for i, (name, _h) in enumerate(_EDGE_ROWS):
        lat, lon, text = extract_geotag_pa(arr.slice(i, 1))
        exp = (
            None if np.isnan(lat[0]) else float(lat[0]),
            None if np.isnan(lon[0]) else float(lon[0]),
            text[0].as_py(),
        )
        g = got[name]
        assert g[0] == exp[0] and g[1] == exp[1], (name, g, exp)
        assert g[2] == exp[2], (name, g[2], exp[2])
        for v in g[:2]:
            assert v is None or not math.isnan(v), (name, "NaN leaked as value")
    # a zero seconds denominator falls back to the meta latitude
    assert got["dms_nan_falls_to_meta"][0] == 7.5
    assert got["dms_zero_den_falls_to_meta"][0] == 7.5

    # the pandas oracle follows the same per-coordinate rule
    oracle = extract_geotag_pdf(pd.Series([h for _, h in _EDGE_ROWS]))
    lat, lon, _ = extract_geotag_pa(arr)
    np.testing.assert_array_equal(oracle["lat"].to_numpy(), lat)
    np.testing.assert_array_equal(oracle["lon"].to_numpy(), lon)


def test_jvm_extraction_drop_untagged_and_no_text_schema(spark):
    df = spark.createDataFrame(
        [(n, h) for n, h in _EDGE_ROWS], "name string, html binary"
    )
    kept = extract_geotags(df).select("name").collect()
    assert sorted(r["name"] for r in kept) == sorted(
        ["meta_plain", "dms_plain", "dms_south", "both_dms_wins",
         "dms_nan_falls_to_meta", "dms_zero_den_falls_to_meta", "empty_text",
         "no_text"]
    )
    narrow = extract_geotags(df, with_text=False, keep=["name"])
    assert narrow.columns == ["name", "lat", "lon"]
    with pytest.raises(ValueError, match="nmae"):
        extract_geotags(df, keep=["nmae"])
