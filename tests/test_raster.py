"""PNG density tiles: codec round-trip, pixel-exact counts, normalization."""

from __future__ import annotations

import numpy as np
import pytest

from landlensdb_spark.geo.tiles import np_tile_xy
from landlensdb_spark.operators.raster import (
    decode_png_gray,
    encode_png_gray,
    tile_density_raster,
)


def test_png_codec_roundtrip():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(64, 48), dtype=np.uint8)
    assert np.array_equal(decode_png_gray(encode_png_gray(img)), img)
    # signature + IHDR dims are real PNG wire bytes
    blob = encode_png_gray(img)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    assert int.from_bytes(blob[16:20], "big") == 48  # width
    assert int.from_bytes(blob[20:24], "big") == 64  # height


def _pts(spark, n=500):
    rng = np.random.default_rng(13)
    lon = 10.0 + rng.uniform(0, 0.02, n)
    lat = 20.0 + rng.uniform(0, 0.02, n)
    return spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(lon, lat))],
        "rec_id long, lon double, lat double",
    ), lon, lat


def test_density_raster_pixel_exact(spark):
    df, lon, lat = _pts(spark)
    zoom, grid = 12, 64
    out = tile_density_raster(df, zoom=zoom, grid=grid, cap=1).collect()
    assert sum(r["n_records"] for r in out) == len(lon)
    # numpy oracle: bin every point into (tile, px, py) and compare nonzero
    # pixel sets (cap=1 -> any occupied pixel saturates to 255)
    tx, ty = np_tile_xy(lon, lat, zoom)
    n = float(1 << zoom)
    fx = (lon + 180.0) / 360.0 * n
    fy = (1.0 - np.arcsinh(np.tan(np.radians(lat))) / np.pi) / 2.0 * n
    px = np.clip(np.floor((fx - tx) * grid).astype(int), 0, grid - 1)
    py = np.clip(np.floor((fy - ty) * grid).astype(int), 0, grid - 1)
    want = {}
    for i in range(len(lon)):
        want.setdefault((tx[i], ty[i]), set()).add((px[i], py[i]))
    got = {}
    for r in out:
        img = decode_png_gray(bytes(r["png"]))
        assert img.shape == (grid, grid)
        nz = set(zip(*np.nonzero(img.T)))  # (x, y) pairs
        assert set(img[img > 0].tolist()) == {255}
        got[(r["tile_x"], r["tile_y"])] = nz
    assert got == want


def test_density_normalization_modes(spark):
    df, _, _ = _pts(spark, 300)
    # per-tile normalization: every tile's max pixel is exactly 255
    for r in tile_density_raster(df, zoom=10, grid=32).collect():
        img = decode_png_gray(bytes(r["png"]))
        assert img.max() == 255
    # global cap: intensity = min(count*255//cap, 255), monotone in count
    rows = tile_density_raster(df, zoom=10, grid=32, cap=1000).collect()
    for r in rows:
        img = decode_png_gray(bytes(r["png"]))
        assert img.max() <= r["n_records"] * 255 // 1000 + 255 // 1000 + 1


# ---------------------------------------------------------------------------
# PNG thumbnail path (round-3: F25 via the in-repo codec)
# ---------------------------------------------------------------------------

def _filtered_png(img, filters):
    """Hand-build a gray-8 PNG using the GIVEN per-row filter types, so the
    decoder's unfiltering (spec filters 0-4) is exercised — our encoder
    always emits filter 0."""
    import struct
    import zlib

    import numpy as np

    h, w = img.shape
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int64)
    for r in range(h):
        line = img[r].astype(np.int64)
        ft = filters[r % len(filters)]
        raw.append(ft)
        if ft == 0:
            enc = line
        elif ft == 1:
            enc = line - np.concatenate([[0], line[:-1]])
        elif ft == 2:
            enc = line - prev
        elif ft == 3:
            left = np.concatenate([[0], line[:-1]])
            enc = line - ((left + prev) >> 1)
        else:  # paeth
            enc = np.empty(w, dtype=np.int64)
            for x in range(w):
                a = int(line[x - 1]) if x else 0
                b, c = int(prev[x]), (int(prev[x - 1]) if x else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = line[x] - pred
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = line

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_all_scanline_filters():
    import numpy as np

    from landlensdb_spark.operators.raster import decode_png_gray

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(10, 17), dtype=np.uint8)
    for filters in ([1], [2], [3], [4], [0, 1, 2, 3, 4]):
        blob = _filtered_png(img, filters)
        assert np.array_equal(decode_png_gray(blob), img), f"filters {filters}"


def test_png_thumbnail_roundtrip_dims_and_intensity():
    import numpy as np

    from landlensdb_spark.operators.raster import (
        decode_png_gray,
        encode_png_gray,
        png_thumbnail,
    )

    # 64x32 horizontal ramp: each 4x4 block has a known mean
    img = np.tile(np.arange(64, dtype=np.uint8) * 4, (32, 1))
    blob = encode_png_gray(img)
    thumb = png_thumbnail(blob, max_w=16, max_h=16)
    out = decode_png_gray(thumb)
    assert out.shape == (8, 16)  # aspect preserved: 64x32 -> 16x8
    want = np.round(img.reshape(8, 4, 16, 4).mean(axis=(1, 3))).astype(np.uint8)
    assert np.array_equal(out, want)
    # shrink-only: already-small images pass through at native size
    small = png_thumbnail(blob, max_w=256, max_h=256)
    assert decode_png_gray(small).shape == (32, 64)


def test_media_thumbnail_operator(spark):
    import numpy as np

    from landlensdb_spark.operators.multimodal import media_thumbnail
    from landlensdb_spark.operators.raster import encode_png_gray

    img = np.tile(np.arange(40, dtype=np.uint8) * 6, (20, 1))
    rows = [
        ("png", bytearray(encode_png_gray(img))),
        ("jpeg", bytearray(b"\xff\xd8\xff\xe0 not decodable here")),
        ("empty", bytearray(b"")),
    ]
    df = spark.createDataFrame(rows, "name string, media binary")
    got = {r["name"]: r for r in media_thumbnail(df, max_w=10, max_h=10).collect()}
    assert (got["png"]["thumb_w"], got["png"]["thumb_h"]) == (10, 5)
    assert got["png"]["thumb"] is not None
    assert got["jpeg"]["thumb"] is None and got["jpeg"]["thumb_w"] is None
    assert got["empty"]["thumb"] is None


@pytest.mark.parametrize("fmt", ["png", "jpeg", "gif", "tiff", "webp"])
def test_media_thumbnail_dims_every_format(spark, fmt):
    """A 60x40 image at max 16x16 comes back with its thumbnail dims in
    every in-scope format, not only the PNG/JPEG ones."""
    from landlensdb_spark.operators.gif import encode_gif_gray
    from landlensdb_spark.operators.jpeg import encode_jpeg_gray
    from landlensdb_spark.operators.multimodal import media_thumbnail
    from landlensdb_spark.operators.raster import encode_png_gray
    from landlensdb_spark.operators.tiff import encode_tiff_gray
    from landlensdb_spark.operators.webp import encode_webp

    img = (np.add.outer(np.arange(40), np.arange(60)) * 3 % 256).astype(np.uint8)
    encode = {
        "png": encode_png_gray,
        "jpeg": encode_jpeg_gray,
        "gif": encode_gif_gray,
        "tiff": encode_tiff_gray,
        "webp": encode_webp,
    }[fmt]
    df = spark.createDataFrame([(bytearray(encode(img)),)], "media binary")
    r = media_thumbnail(df, max_w=16, max_h=16).collect()[0]
    assert r["thumb"] is not None
    assert (r["thumb_w"], r["thumb_h"]) == (16, 10)


def test_zonal_stats_operator(spark):
    """Synthetic pixels/zones (no trig): closed-bounds membership, shared
    boundary pixel counts in BOTH zones, empty zones absent, tile explode
    covers zones spanning tile borders."""
    from landlensdb_spark.operators.raster import zonal_stats

    # grid=4: tiles are 4x4 pixel blocks. Pixels across two tiles.
    pix = spark.createDataFrame(
        [
            # tile (0,0): global (0..3, 0..3)
            (0, 0, 0, 0, 10),
            (0, 0, 3, 3, 20),
            # tile (1,0): global (4..7, 0..3)
            (1, 0, 0, 1, 40),  # global (4,1)
        ],
        "tile_x long, tile_y long, px int, py int, intensity int",
    )
    zones = spark.createDataFrame(
        [
            (1, 0, 3, 0, 3),  # exactly tile (0,0) -> pixels 10+20
            (2, 3, 4, 0, 2),  # spans the tile border: global x 3..4, y 0..2 -> 40 only... and (3,3)? y<=2 no
            (3, 3, 3, 3, 3),  # single pixel (3,3) -> 20 (shared with zone 1)
            (4, 6, 7, 0, 3),  # empty
        ],
        "zone_id long, gx0 long, gx1 long, gy0 long, gy1 long",
    )
    got = {
        r["zone_id"]: (r["sum_val"], r["n_pix"])
        for r in zonal_stats(pix, zones, 4).collect()
    }
    assert got == {1: (30, 2), 2: (40, 1), 3: (20, 1)}


def test_focal_sum_operator(spark):
    """Chebyshev windows, cross-tile reach, sparse-zero semantics,
    radius 0 = identity."""
    from landlensdb_spark.operators.raster import focal_sum

    pix = spark.createDataFrame(
        [
            (0, 0, 3, 3, 5),   # global (3,3)
            (1, 0, 0, 3, 7),   # global (4,3) — adjacent ACROSS tile border
            (0, 0, 0, 0, 11),  # global (0,0) — isolated
        ],
        "tile_x long, tile_y long, px int, py int, intensity int",
    )
    got = {
        (r["tile_x"], r["tile_y"], r["px"], r["py"]): (r["focal_sum"], r["n_nbrs"])
        for r in focal_sum(pix, radius=1, grid=4).collect()
    }
    assert got == {
        (0, 0, 3, 3): (12, 2),
        (1, 0, 0, 3): (12, 2),
        (0, 0, 0, 0): (11, 1),
    }
    got0 = {
        (r["tile_x"], r["tile_y"], r["px"], r["py"]): r["focal_sum"]
        for r in focal_sum(pix, radius=0, grid=4).collect()
    }
    assert got0 == {(0, 0, 3, 3): 5, (1, 0, 0, 3): 7, (0, 0, 0, 0): 11}
    import pytest as _pt

    with _pt.raises(ValueError, match="radius"):
        focal_sum(pix, radius=-1, grid=4)
    with _pt.raises(ValueError, match="grid"):
        focal_sum(pix, radius=1)


def test_focal_zscores_semantics(spark):
    """z from global moments: closed-form check on a tiny raster, NULL
    when the window covers the whole population or variance is 0."""
    import math

    from landlensdb_spark.operators.raster import focal_zscores

    # global coords (grid=4): (0,0), (3,3), (4,2) [adjacent to (3,3)
    # across the tile border], (8,0) [isolated]
    pix = spark.createDataFrame(
        [(0, 0, 0, 0, 10), (0, 0, 3, 3, 20), (1, 0, 0, 2, 40), (2, 0, 0, 0, 10)],
        "tile_x long, tile_y long, px int, py int, intensity int",
    )
    rows = {
        (r["tile_x"], r["px"], r["py"]): r
        for r in focal_zscores(pix, radius=1, grid=4).collect()
    }
    n, sv, svv = 4, 80, 2200
    mean, var = sv / n, svv / n - (sv / n) ** 2
    # isolated pixel (2,0,0): S=10, k=1
    r = rows[(2, 0, 0)]
    want = (10 - 1 * mean) / (math.sqrt(var) * math.sqrt((n * 1 - 1) / (n - 1)))
    assert r["z"] == want and r["focal_sum"] == 10
    # pair across the tile border: S=60, k=2
    r = rows[(0, 3, 3)]
    want = (60 - 2 * mean) / (math.sqrt(var) * math.sqrt((n * 2 - 4) / (n - 1)))
    assert r["z"] == want
    # constant raster -> var 0 -> NULL z
    flat = spark.createDataFrame(
        [(0, 0, 0, 0, 5), (0, 0, 2, 2, 5)],
        "tile_x long, tile_y long, px int, py int, intensity int",
    )
    assert all(
        r["z"] is None for r in focal_zscores(flat, radius=1, grid=4).collect()
    )
    # window covering the whole population -> u2 = 0 -> NULL z
    tight = spark.createDataFrame(
        [(0, 0, 0, 0, 5), (0, 0, 1, 1, 9)],
        "tile_x long, tile_y long, px int, py int, intensity int",
    )
    assert all(
        r["z"] is None for r in focal_zscores(tight, radius=1, grid=4).collect()
    )
