"""Raster tile build: per-tile point-density PNGs (heatmap tile layers).

The reference renders folium heat/marker maps from dataframes
(/root/reference/landlensdb/geoclasses/geoimageframe.py:381-456); the
engine-side analog at corpus scale is a density RASTER per XYZ tile — the
standard heatmap tile-server layer. Completes the raster<->vector story
next to :func:`landlensdb_spark.operators.mvt.encode_tiles` (vector build)
and the MVT decode scan (vector read).

Plan shape: tile + in-tile pixel binning is pure column math; ONE groupBy
(tile, px, py) with map-side combine collapses the corpus to at most
grid^2 rows per tile BEFORE the per-tile assembly, so the python encoder
touches O(occupied pixels), never O(points). PNG bytes are produced by a
~40-line stdlib writer (zlib + struct — the PNG spec is public and needs
no imaging library): 8-bit grayscale, intensity = min(count * 255 /
cap, 255).
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landlensdb_spark.geo.tiles import tile_x, tile_y
from landlensdb_spark.operators.multimodal import map_batches

#: decode-side allocation guard (shared contract with operators/jpeg.py):
#: forged IHDR dims in crawled payloads fail loudly instead of OOMing
MAX_PIXELS = 64 * 1024 * 1024


def encode_png_gray(img: np.ndarray) -> bytes:
    """Minimal 8-bit grayscale PNG encoder (public wire format, stdlib only).

    Chunks: IHDR (bit depth 8, color type 0), one IDAT holding the
    zlib-compressed scanlines (filter byte 0 per row), IEND.
    """
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("need a 2-D uint8 array")
    h, w = img.shape

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + img[r].tobytes() for r in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def png_dims(blob: bytes) -> tuple[int, int] | None:
    """(width, height) from the IHDR chunk of ANY PNG, or None if the
    payload is not a PNG — real metadata extraction without a full decode."""
    if blob is None or len(blob) < 24 or blob[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    if blob[12:16] != b"IHDR":  # signature kept but chunks mangled
        return None
    w, h = struct.unpack(">II", blob[16:24])
    return (w, h)


def _unfilter_scanline(ft: int, line: np.ndarray, prev: np.ndarray) -> np.ndarray:
    """One PNG scanline filter inversion (spec filters 0-4, bpp=1).

    Sub/Paeth carry a left-pixel dependency, so they fold sequentially;
    None/Up/Average(first half) vectorize."""
    if ft == 0:  # None
        return line.copy()
    if ft == 2:  # Up
        return (line + prev).astype(np.uint8)
    out = np.empty_like(line)
    left = 0
    for x in range(len(line)):
        if ft == 1:  # Sub
            v = line[x] + left
        elif ft == 3:  # Average
            v = line[x] + ((left + int(prev[x])) >> 1)
        else:  # Paeth
            a, b, c = left, int(prev[x]), int(prev[x - 1]) if x else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            v = line[x] + pred
        out[x] = v & 0xFF
        left = int(out[x])
    return out


def decode_png_gray(blob: bytes) -> np.ndarray:
    """Grayscale-8 PNG decoder (all five scanline filters of the public
    spec; round-trip inverse of :func:`encode_png_gray`, and reads foreign
    gray-8 PNGs regardless of the encoder's filter choices).

    Real exceptions, not asserts: this is a production read path and
    ``python -O`` must not turn an RGB/interlaced PNG into silently
    garbage pixel data."""
    if blob[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    i, w, h, idat = 8, None, None, b""
    while i < len(blob):
        (ln,) = struct.unpack(">I", blob[i : i + 4])
        tag = blob[i + 4 : i + 8]
        payload = blob[i + 8 : i + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload[:13]
            )
            if (depth, ctype) != (8, 0):
                raise ValueError(f"grayscale-8 only, got depth={depth} type={ctype}")
            if interlace:
                raise ValueError("interlaced (Adam7) PNGs are not supported")
        elif tag == b"IDAT":
            idat += payload
        i += 12 + ln
    if w is None:
        raise ValueError("PNG has no IHDR chunk")
    if h * w > MAX_PIXELS or h == 0 or w == 0:
        raise ValueError(f"image dimensions {w}x{h} outside sane bounds")
    rows = zlib.decompress(idat)
    img = np.zeros((h, w), dtype=np.uint8)
    stride = w + 1
    prev = np.zeros(w, dtype=np.uint16)
    for r in range(h):
        line = rows[r * stride : (r + 1) * stride]
        if len(line) != stride or line[0] > 4:
            raise ValueError("corrupt scanline")
        cur = _unfilter_scanline(
            line[0], np.frombuffer(line[1:], dtype=np.uint8).astype(np.uint16), prev
        )
        img[r] = cur
        prev = cur.astype(np.uint16)
    return img


def resize_gray(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic downscale: exact box-filter (block mean) when the
    ratio is integer on an axis, nearest-neighbor otherwise — the
    dependency-free analog of the reference's LANCZOS thumbnail
    (/root/reference/landlensdb/handlers/image.py:95-138)."""
    h, w = img.shape
    out = img
    if out_h != h:
        if h % out_h == 0:
            out = out.reshape(out_h, h // out_h, -1).mean(axis=1)
        else:
            idx = (np.arange(out_h) * h) // out_h
            out = out[idx]
    if out_w != w:
        if w % out_w == 0:
            out = out.reshape(out.shape[0], out_w, w // out_w).mean(axis=2)
        else:
            idx = (np.arange(out_w) * w) // out_w
            out = out[:, idx]
    return np.asarray(np.round(out), dtype=np.uint8)


def png_thumbnail(blob: bytes, max_w: int = 128, max_h: int = 128) -> bytes:
    """Aspect-preserving PNG thumbnail (PIL ``Image.thumbnail`` contract:
    shrink-only, fits within (max_w, max_h)) built entirely on the in-repo
    codec — decode, box/nearest resize, re-encode. Raises ValueError for
    non-PNG payloads (JPEG decode remains an injected-codec seam)."""
    img = decode_png_gray(blob)
    h, w = img.shape
    scale = min(max_w / w, max_h / h, 1.0)
    ow, oh = max(int(w * scale), 1), max(int(h * scale), 1)
    return encode_png_gray(resize_gray(img, ow, oh))


def tile_density_raster(
    points: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    zoom: int = 12,
    grid: int = 256,
    cap: int | None = None,
) -> DataFrame:
    """One grayscale density PNG per occupied tile:
    (tile_z, tile_x, tile_y, n_records, png binary).

    ``cap`` is the count mapped to full intensity (default: the tile's own
    max — per-tile normalized; pass a global cap for cross-tile comparable
    shading)."""
    n = float(1 << zoom)
    fx = (F.col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(n)
    lat_r = F.radians(F.col(lat))
    fy = (F.lit(1.0) - F.asinh(F.tan(lat_r)) / F.lit(math.pi)) / F.lit(2.0) * F.lit(n)
    clamp = lambda c: F.least(F.greatest(c, F.lit(0)), F.lit(grid - 1))  # noqa: E731
    binned = (
        points.withColumn("tile_z", F.lit(zoom))
        .withColumn("tile_x", tile_x(lon, zoom))
        .withColumn("tile_y", tile_y(lat, zoom))
        .withColumn(
            "_px", clamp(F.floor((fx - F.col("tile_x")) * F.lit(float(grid)))).cast("int")
        )
        .withColumn(
            "_py", clamp(F.floor((fy - F.col("tile_y")) * F.lit(float(grid)))).cast("int")
        )
        # the data-sized aggregation: corpus -> occupied pixels (map-side combined)
        .groupBy("tile_z", "tile_x", "tile_y", "_px", "_py")
        .agg(F.count("*").alias("_c"))
    )
    per_tile = binned.groupBy("tile_z", "tile_x", "tile_y").agg(
        F.collect_list(F.struct("_px", "_py", "_c")).alias("_pix"),
        F.sum("_c").alias("n_records"),
    )

    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def _render(pix: pd.Series) -> pd.Series:
        out = []
        for pl in pix:
            img = np.zeros((grid, grid), dtype=np.int64)
            for p in pl:
                img[int(p["_py"]), int(p["_px"])] = int(p["_c"])
            top = cap if cap is not None else max(int(img.max()), 1)
            scaled = np.minimum(img * 255 // top, 255).astype(np.uint8)
            out.append(encode_png_gray(scaled))
        return pd.Series(out)

    return per_tile.select(
        "tile_z", "tile_x", "tile_y", "n_records", _render(F.col("_pix")).alias("png")
    )


def raster_to_pixels(tiles: DataFrame, png_col: str = "png") -> DataFrame:
    """Decode density tiles back to (tile_z, tile_x, tile_y, px, py,
    intensity) rows — the raster READ path (and the round-trip check for
    the writer). One Arrow batch pass: one decode per tile row, its
    nonzero pixels found by numpy."""

    def _decode(blobs):
        imgs = [decode_png_gray(b) for b in blobs.to_pylist()]
        nz = [np.nonzero(img) for img in imgs]  # vectorized: no per-pixel python
        idx = np.repeat(np.arange(len(imgs)), [len(xs) for _, xs in nz])
        pix = [np.stack([xs, ys, img[ys, xs]]) for img, (ys, xs) in zip(imgs, nz)]
        return [idx, *np.hstack([np.empty((3, 0), np.int64), *pix])]

    return map_batches(
        tiles,
        [png_col],
        _decode,
        "px int, py int, intensity int",
        keep=["tile_z", "tile_x", "tile_y"],
    )


def zonal_stats(
    pixels: DataFrame,
    zones: DataFrame,
    grid: int,
    value: str = "intensity",
    zone_id: str = "zone_id",
) -> DataFrame:
    """Zonal statistics over a decoded raster — the vector side of the
    raster<->vector roundtrip (reference parity: rasterstats-style
    per-zone aggregation over landlensdb's coverage tiles).

    ``pixels``: (tile_x, tile_y, px, py, <value>) as produced by
    :func:`raster_to_pixels`. ``zones``: (<zone_id>, gx0, gx1, gy0,
    gy1) — CLOSED global-pixel-coordinate bounds (global coord =
    tile * grid + pixel). Output: (<zone_id>, sum_val, n_pix).

    Scale shape: each zone explodes into the TILES its bounds cover
    (constant small fan-out — zone extent / tile extent), the
    pixel<->zone match is a plain (tile_x, tile_y) equi-join with an
    exact bounds refine, and the aggregate is map-side combined. Never
    a nested-loop/range join against the pixel table, which is the
    data-sized side. Zones sharing a boundary pixel both count it
    (closed bounds, documented corner-inclusive rasterization)."""
    p = pixels.select(
        "tile_x",
        "tile_y",
        (F.col("tile_x") * grid + F.col("px")).alias("_gx"),
        (F.col("tile_y") * grid + F.col("py")).alias("_gy"),
        F.col(value).alias("_v"),
    )
    z = zones.select(
        zone_id,
        "gx0",
        "gx1",
        "gy0",
        "gy1",
        F.explode(
            F.sequence(F.floor(F.col("gx0") / grid), F.floor(F.col("gx1") / grid))
        ).alias("tile_x"),
    ).select(
        "*",
        F.explode(
            F.sequence(F.floor(F.col("gy0") / grid), F.floor(F.col("gy1") / grid))
        ).alias("tile_y"),
    )
    return (
        p.join(z, ["tile_x", "tile_y"])
        .filter(
            F.col("_gx").between(F.col("gx0"), F.col("gx1"))
            & F.col("_gy").between(F.col("gy0"), F.col("gy1"))
        )
        .groupBy(zone_id)
        .agg(F.sum("_v").alias("sum_val"), F.count("*").alias("n_pix"))
    )


def focal_sum(
    pixels: DataFrame,
    radius: int = 1,
    value: str = "intensity",
    grid: int | None = None,
) -> DataFrame:
    """Focal (moving-window) statistics over a sparse raster — for each
    populated pixel, the sum of ``value`` over the (2r+1)^2 Chebyshev
    window around it (the raster convolution behind heatmap smoothing /
    hotspot detection; reference parity: the folium heatmap shading over
    landlensdb coverage tiles).

    Input/output coordinates are GLOBAL pixel rows (tile_x, tile_y, px,
    py, <value>); pass ``grid`` (pixels per tile side) so windows reach
    across tile borders — tile-local pixels are converted to global
    coordinates, neighbors matched there, and the result keyed by the
    center pixel's original tile/pixel columns. Output adds
    ``focal_sum`` and ``n_nbrs`` (populated pixels in the window,
    center included).

    Scale shape: each populated pixel explodes its (2r+1)^2 offset
    window (constant fan-out) and equi-joins the populated-pixel table
    on the global coordinate — sparse-raster cost is O(|pixels| * k^2)
    rows through ONE shuffle, never a dense-grid materialization and
    never a range join. Empty cells contribute nothing (sparse zero
    convention)."""
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    if grid is None:
        raise ValueError("pass grid (pixels per tile side) explicitly")
    g = int(grid)
    p = pixels.select(
        "tile_x",
        "tile_y",
        "px",
        "py",
        (F.col("tile_x") * g + F.col("px")).alias("_gx"),
        (F.col("tile_y") * g + F.col("py")).alias("_gy"),
        F.col(value).alias("_v"),
    )
    k = 2 * radius + 1
    offs = F.array(
        *[
            F.struct(F.lit(dx - radius).alias("dx"), F.lit(dy - radius).alias("dy"))
            for dx in range(k)
            for dy in range(k)
        ]
    )
    centers = p.withColumn("_o", F.explode(offs)).select(
        "tile_x",
        "tile_y",
        "px",
        "py",
        (F.col("_gx") + F.col("_o.dx")).alias("_nx"),
        (F.col("_gy") + F.col("_o.dy")).alias("_ny"),
    )
    nbrs = p.select(
        F.col("_gx").alias("_nx"), F.col("_gy").alias("_ny"), "_v"
    )
    return (
        centers.join(nbrs, ["_nx", "_ny"])
        .groupBy("tile_x", "tile_y", "px", "py")
        .agg(F.sum("_v").alias("focal_sum"), F.count("*").alias("n_nbrs"))
    )


def focal_zscores(
    pixels: DataFrame,
    radius: int = 1,
    value: str = "intensity",
    grid: int | None = None,
) -> DataFrame:
    """Getis-Ord-Gi*-style hotspot z-scores over the sparse raster: for
    each populated pixel, how far its window sum sits above what a
    random draw of ``n_nbrs`` populated pixels would give —
    ``z = (S_i - k_i*mean) / (s * sqrt((n*k_i - k_i^2)/(n-1)))`` with
    mean/s the GLOBAL moments over populated pixels (sparse-zero
    convention: empty cells are not part of the population, documented
    divergence from textbook Gi* which scans the dense grid — the dense
    form is unrepresentable at web scale and the sparse form ranks
    hotspots identically on fixed-occupancy rasters).

    Exactness: the global moments are exact int64 sums (intensity <=
    255 keeps n*Sv^2 far from the boundary), and z is ONE fixed IEEE
    expression over them — bit-identical cross-engine, the
    `operators.stats.group_trend` discipline. NULL z when the variance
    is zero, n < 2, or the window covers the whole population.

    Scale shape: :func:`focal_sum`'s explode + equi-join, then one
    1-row global aggregate broadcast-crossJoined (the engine-wide
    one-row pattern, cf. BM25 totals)."""
    f = focal_sum(pixels, radius=radius, value=value, grid=grid)
    g = pixels.agg(
        F.count("*").alias("_n"),
        F.sum(F.col(value).cast("long")).alias("_sv"),
        F.sum((F.col(value).cast("long") * F.col(value).cast("long"))).alias("_svv"),
    )
    j = f.crossJoin(F.broadcast(g))
    nd = F.col("_n").cast("double")
    kd = F.col("n_nbrs").cast("double")
    sd = F.col("focal_sum").cast("double")
    mean = F.col("_sv").cast("double") / nd
    var = F.col("_svv").cast("double") / nd - mean * mean
    u2 = (nd * kd - kd * kd) / (nd - F.lit(1.0))
    z = F.when(
        (F.col("_n") > 1) & (var > 0) & (u2 > 0),
        (sd - kd * mean) / (F.sqrt(var) * F.sqrt(u2)),
    )
    return j.select(
        "tile_x", "tile_y", "px", "py", "focal_sum", "n_nbrs", z.alias("z")
    )
