"""EXIF wire-format parser: byte-level round-trip + Spark operator."""

from __future__ import annotations

import numpy as np

from landlensdb_spark import synth, tables
from landlensdb_spark.exif import (
    GPS_LAT,
    TAG_FOCAL_LENGTH,
    TAG_MODEL,
    encode_jpeg_exif,
    exif_row,
    extract_exif,
    gps_to_decimal,
    parse_exif_bytes,
)


def test_roundtrip_both_byte_orders():
    for order in ("II", "MM"):
        b = encode_jpeg_exif(
            lat=48.858844, lon=2.294351, focal=(239, 100),
            model="RICOH THETA S", dt="2022:05:01 10:20:30", byte_order=order,
        )
        tags = parse_exif_bytes(b)
        assert tags is not None, order
        lat = gps_to_decimal(tags[0x10000 + GPS_LAT], tags[0x10001], "S")
        lon = gps_to_decimal(tags[0x10000 + 0x0004], tags[0x10003], "W")
        assert (lat, lon) == (48.858844, 2.294351)
        assert tags[TAG_FOCAL_LENGTH] == [(239, 100)]
        assert tags[TAG_MODEL] == "RICOH THETA S"


def test_negative_hemispheres():
    b = encode_jpeg_exif(lat=-33.868820, lon=-151.209290)
    tags = parse_exif_bytes(b)
    assert tags[0x10001] == "S" and tags[0x10003] == "W"
    lat = gps_to_decimal(tags[0x10000 + GPS_LAT], "S", "S")
    lon = gps_to_decimal(tags[0x10000 + 0x0004], "W", "W")
    assert (lat, lon) == (-33.868820, -151.209290)


def test_no_gps_and_corrupt_inputs():
    no_gps = encode_jpeg_exif(focal=(500, 100), model="X")
    tags = parse_exif_bytes(no_gps)
    assert tags is not None and (0x10000 + GPS_LAT) not in tags
    assert parse_exif_bytes(b"") is None
    assert parse_exif_bytes(b"\x89PNG\r\n") is None
    assert parse_exif_bytes(no_gps[:20]) is None or isinstance(
        parse_exif_bytes(no_gps[:20]), dict
    )  # truncated APP1 must not raise
    # valid JPEG, no APP1 at all
    assert parse_exif_bytes(b"\xff\xd8\xff\xda\x00\x02\xff\xd9") is None


def test_batch_kernel_matches_generator():
    ids = list(range(40))
    out = [exif_row(tables.build_photo_row(i)[1]) for i in ids]
    i = np.array(ids, dtype=np.int64)
    want_lat = np.round(synth.np_lat(i), 6)
    want_lon = np.round(synth.np_lon(i), 6)
    for j in ids:
        lat, lon, focal, model, _dt = out[j]
        if j % 7 == 0:
            assert lat is None and lon is None
        else:
            assert lat == want_lat[j] and lon == want_lon[j]
        assert focal == (((j * 37) % 5000) + 150) / 100.0
        assert model == f"CAM{j % 4}"
    assert exif_row(None) == (None,) * 5


def test_spark_operator_end_to_end(spark):
    ph = tables.photos(spark, 70, num_partitions=4)
    got = extract_exif(ph).orderBy("photo_id").collect()
    # i%7==0 rows dropped
    assert [r["photo_id"] for r in got] == [i for i in range(70) if i % 7]
    i = np.array([r["photo_id"] for r in got], dtype=np.int64)
    assert np.array_equal(
        np.array([r["lat"] for r in got]), np.round(synth.np_lat(i), 6)
    )
    assert "image_bytes" not in got[0].asDict()


def test_gps_zero_denominator_is_untagged():
    """Corrupt rational with a 0 denominator -> None (untagged), never a
    ZeroDivisionError in the executor (round-3 ADVICE)."""
    assert gps_to_decimal([(40, 1), (30, 0), (0, 1)], "N", "S") is None
    assert gps_to_decimal([(40, 0), (30, 1), (0, 1)], "S", "S") is None
    assert gps_to_decimal([(40, 1), (30, 1), (0, 0)], "N", "S") is None
    assert gps_to_decimal([(40, 1), (30, 1), (0, 1)], "N", "S") == 40.5
