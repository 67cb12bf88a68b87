"""Mapbox-Vector-Tile (MVT) decode scan: binary tile blobs -> feature rows.

The reference ingests coverage by fetching protobuf vector tiles and decoding
them with ``mapbox_vector_tile`` (/root/reference/landlensdb/handlers/
cloud.py:11,697-790): pick the layer by zoom ("image" at z14, "sequence" at
z6-14, "overview" at z0-5), keep point features, optionally filter on the
``captured_at`` property, then read ids/coords out of the features
(cloud.py:792-816).

This module is the Spark-native scan (SURVEY.md §2.1 S4): a table of
``(tile_z, tile_x, tile_y, content binary)`` rows goes through ONE
Arrow ``map_batches`` pass that parses the MVT wire format and explodes point
features into rows with real lon/lat. No protobuf library exists in this
container, so the wire format (protobuf encoding of the MVT 2.1 schema:
varint / zigzag / length-delimited fields, packed geometry command integers)
is implemented directly — ``encode_mvt`` is the deterministic twin used to
build test fixtures, and the round-trip is pytest-locked. Parsing is
per-blob sequential (a tile is the natural unit; at production scale swap
the per-blob parser for a C decoder — the Spark plumbing, schema and
semantics stay identical).

Scale shape: embarrassingly parallel scan -> decode -> explode; the binary
column never survives the map, so downstream stages shuffle only the small
feature rows.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from landlensdb_spark.operators.multimodal import map_batches

#: reference layer-per-zoom selection (cloud.py:728-739)
LAYER_BY_ZOOM = (("image", 14, 14), ("sequence", 6, 14), ("overview", 0, 5))

FEATURE_SCHEMA = (
    "tile_z int, tile_x long, tile_y long, layer string, feature_id long, "
    "px int, py int, lon double, lat double, props map<string,string>, "
    "tile_layers array<string>"
)


# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------

def _uvarint(buf: bytes, i: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7


def _enc_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _field(tag_field: int, wire: int) -> bytes:
    return _enc_uvarint((tag_field << 3) | wire)


def _len_delim(tag_field: int, payload: bytes) -> bytes:
    return _field(tag_field, 2) + _enc_uvarint(len(payload)) + payload


# ---------------------------------------------------------------------------
# encoder (fixture twin)
# ---------------------------------------------------------------------------

def encode_mvt(layers: dict[str, dict]) -> bytes:
    """Encode ``{layer_name: {"extent": 4096, "features": [{"id": int,
    "points": [(px, py), ...], "props": {str: str|int|bool}}]}}`` to MVT
    2.1 wire bytes (point features only — the reference's coverage tiles)."""
    tile = bytearray()
    for name, spec in layers.items():
        extent = int(spec.get("extent", 4096))
        keys: list[str] = []
        vals: list = []

        def slot(seq: list, item) -> int:
            # dedup by (type, value): bare == conflates True==1==1.0, which
            # would reuse one Value slot across bool/int/float props and
            # decode with the wrong wire type
            for i, existing in enumerate(seq):
                if type(existing) is type(item) and existing == item:
                    return i
            seq.append(item)
            return len(seq) - 1

        lbuf = bytearray()
        lbuf += _field(15, 0) + _enc_uvarint(2)  # version
        lbuf += _len_delim(1, name.encode())
        feat_bufs = []
        for f in spec["features"]:
            fbuf = bytearray()
            fbuf += _field(1, 0) + _enc_uvarint(int(f["id"]))
            tags = []
            for k, v in (f.get("props") or {}).items():
                tags.append(slot(keys, k))
                tags.append(slot(vals, v))
            if tags:
                payload = b"".join(_enc_uvarint(t) for t in tags)
                fbuf += _len_delim(2, payload)
            fbuf += _field(3, 0) + _enc_uvarint(1)  # GeomType POINT
            pts = f["points"]
            geom = [_enc_uvarint((1) | (len(pts) << 3))]  # MoveTo x count
            cx = cy = 0
            for px, py in pts:
                geom.append(_enc_uvarint(_zigzag(int(px) - cx)))
                geom.append(_enc_uvarint(_zigzag(int(py) - cy)))
                cx, cy = int(px), int(py)
            fbuf += _len_delim(4, b"".join(geom))
            feat_bufs.append(bytes(fbuf))
        for fb in feat_bufs:
            lbuf += _len_delim(2, fb)
        for k in keys:
            lbuf += _len_delim(3, k.encode())
        for v in vals:
            if isinstance(v, bool):
                vbuf = _field(7, 0) + _enc_uvarint(int(v))
            elif isinstance(v, int):
                vbuf = _field(6, 0) + _enc_uvarint(_zigzag(v))
            elif isinstance(v, float):
                import struct

                vbuf = _field(3, 1) + struct.pack("<d", v)
            else:
                vbuf = _len_delim(1, str(v).encode())
            lbuf += _len_delim(4, vbuf)
        lbuf += _field(5, 0) + _enc_uvarint(extent)
        tile += _len_delim(3, bytes(lbuf))
    return bytes(tile)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def _skip(buf: bytes, i: int, wire: int) -> int:
    if wire == 0:
        _, i = _uvarint(buf, i)
    elif wire == 1:
        i += 8
    elif wire == 2:
        ln, i = _uvarint(buf, i)
        i += ln
    elif wire == 5:
        i += 4
    else:
        raise ValueError(f"bad wire type {wire}")
    return i


def _decode_value(buf: bytes) -> str | int | float | bool:
    i = 0
    tag, i = _uvarint(buf, i)
    field, wire = tag >> 3, tag & 7
    if field == 1:
        ln, i = _uvarint(buf, i)
        return buf[i : i + ln].decode()
    if field in (2, 3):
        import struct

        return struct.unpack("<f" if field == 2 else "<d", buf[i : i + (4 if field == 2 else 8)])[0]
    if field in (4, 5):
        v, _ = _uvarint(buf, i)
        return v
    if field == 6:
        v, _ = _uvarint(buf, i)
        return _unzigzag(v)
    if field == 7:
        v, _ = _uvarint(buf, i)
        return bool(v)
    raise ValueError(f"bad Value field {field}")


def decode_mvt(blob: bytes) -> list[tuple]:
    """-> [(layer, extent, feature_id, px, py, {prop: str}), ...] for every
    point of every POINT/MULTIPOINT feature (the reference's feature lists,
    cloud.py:726-741)."""
    return decode_mvt_full(blob)[0]


def decode_mvt_full(blob: bytes) -> tuple[list[tuple], list[str]]:
    """Like :func:`decode_mvt` but also returns the names of ALL layers
    present in the blob (point-less layers included) — layer PRESENCE, not
    feature counts, drives the reference's if/elif layer choice
    (cloud.py:730-739)."""
    layer_names: list[str] = []
    out = []
    i = 0
    while i < len(blob):
        tag, i = _uvarint(blob, i)
        field, wire = tag >> 3, tag & 7
        if field != 3 or wire != 2:
            i = _skip(blob, i, wire)
            continue
        ln, i = _uvarint(blob, i)
        layer = blob[i : i + ln]
        i += ln
        # --- parse one Layer ---
        j = 0
        name, extent = "", 4096
        keys: list[str] = []
        vals: list = []
        feats: list[bytes] = []
        while j < len(layer):
            t, j = _uvarint(layer, j)
            f_, w = t >> 3, t & 7
            if f_ == 1 and w == 2:
                l2, j = _uvarint(layer, j)
                name = layer[j : j + l2].decode()
                j += l2
            elif f_ == 2 and w == 2:
                l2, j = _uvarint(layer, j)
                feats.append(layer[j : j + l2])
                j += l2
            elif f_ == 3 and w == 2:
                l2, j = _uvarint(layer, j)
                keys.append(layer[j : j + l2].decode())
                j += l2
            elif f_ == 4 and w == 2:
                l2, j = _uvarint(layer, j)
                vals.append(_decode_value(layer[j : j + l2]))
                j += l2
            elif f_ == 5 and w == 0:
                extent, j = _uvarint(layer, j)
            else:
                j = _skip(layer, j, w)
        layer_names.append(name)
        for fb in feats:
            k = 0
            fid, gtype = 0, 0
            tags: list[int] = []
            geom: list[int] = []
            while k < len(fb):
                t, k = _uvarint(fb, k)
                f_, w = t >> 3, t & 7
                if f_ == 1 and w == 0:
                    fid, k = _uvarint(fb, k)
                elif f_ == 2 and w == 2:
                    l2, k = _uvarint(fb, k)
                    end = k + l2
                    while k < end:
                        v, k = _uvarint(fb, k)
                        tags.append(v)
                elif f_ == 3 and w == 0:
                    gtype, k = _uvarint(fb, k)
                elif f_ == 4 and w == 2:
                    l2, k = _uvarint(fb, k)
                    end = k + l2
                    while k < end:
                        v, k = _uvarint(fb, k)
                        geom.append(v)
                else:
                    k = _skip(fb, k, w)
            if gtype != 1:  # POINT only (coverage tiles)
                continue
            props = {
                keys[tags[m]]: str(vals[tags[m + 1]]) for m in range(0, len(tags), 2)
            }
            g = 0
            cx = cy = 0
            while g < len(geom):
                cmd = geom[g]
                cid, count = cmd & 0x7, cmd >> 3
                g += 1
                if cid != 1:
                    break
                for _ in range(count):
                    cx += _unzigzag(geom[g])
                    cy += _unzigzag(geom[g + 1])
                    g += 2
                    out.append((name, extent, fid, cx, cy, props))
    return out, layer_names


# ---------------------------------------------------------------------------
# numpy tile-local -> lon/lat (fractional slippy inverse, cloud.py:889-911)
# ---------------------------------------------------------------------------

def np_tile_lonlat(
    z: np.ndarray, x: np.ndarray, y: np.ndarray,
    px: np.ndarray, py: np.ndarray, extent: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    n = np.exp2(z.astype(np.float64))
    gx = (x + px / extent) / n
    gy = (y + py / extent) / n
    lon = gx * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * gy))))
    return np.round(lon, 6), np.round(lat, 6)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def tile_features(
    tiles: DataFrame,
    content: str = "content",
    z: str = "tile_z",
    x: str = "tile_x",
    y: str = "tile_y",
) -> DataFrame:
    """Decode every tile blob into point-feature rows with real lon/lat."""

    def _decode(zs, xs, ys, blobs):
        feats, idx = [], []
        tiles_ = zip(zs.to_pylist(), xs.to_pylist(), ys.to_pylist())
        for i, ((tz, tx, ty), blob) in enumerate(zip(tiles_, blobs.to_pylist())):
            try:
                feats_, names_ = decode_mvt_full(blob)
            except Exception:
                # corrupt/truncated tile: warn-and-skip, the reference's
                # per-tile decode error handling (cloud.py:776-779) — one
                # bad blob must not fail a 10^12-document job
                import warnings

                warnings.warn(f"undecodable MVT tile ({tz},{tx},{ty})")
                continue
            feats += [f + (names_,) for f in feats_]
            idx += [i] * len(feats_)
        layer, extent, fid, px, py, props, names = (
            map(list, zip(*feats)) if feats else ([],) * 7
        )
        idx = np.asarray(idx, dtype=np.int64)
        tz, tx, ty = (a.to_numpy(zero_copy_only=False)[idx] for a in (zs, xs, ys))
        lon, lat = np_tile_lonlat(
            *(np.asarray(v, dtype=np.float64) for v in (tz, tx, ty, px, py, extent))
        )
        return [idx, tz, tx, ty, layer, fid, px, py, lon, lat, props, names]

    return map_batches(tiles, [z, x, y, content], _decode, FEATURE_SCHEMA, keep=[])


def coverage_features(
    tiles: DataFrame,
    start_captured_ms: int | None = None,
    end_captured_ms: int | None = None,
    **kw,
) -> DataFrame:
    """Reference coverage semantics (cloud.py:728-777): per tile, pick ONE
    layer by the if/elif priority — "image" when z==14 and the layer is
    PRESENT in the blob (even if it holds no point features, in which case
    the tile yields nothing), elif "sequence" at z6-14, elif "overview" at
    z0-5 — then filter on the ``captured_at`` property; features without a
    parseable captured_at are KEPT (cloud.py:765-771)."""
    feats = tile_features(tiles, **kw)
    chosen = F.lit(None).cast("string")
    for name, zlo, zhi in reversed(LAYER_BY_ZOOM):
        chosen = F.when(
            F.col("tile_z").between(zlo, zhi)
            & F.array_contains(F.col("tile_layers"), name),
            name,
        ).otherwise(chosen)
    out = feats.filter(F.col("layer") == chosen).drop("tile_layers")
    cap = F.element_at(F.col("props"), "captured_at").try_cast("long")
    if start_captured_ms is not None:
        out = out.filter(cap.isNull() | (cap >= F.lit(int(start_captured_ms))))
    if end_captured_ms is not None:
        out = out.filter(cap.isNull() | (cap <= F.lit(int(end_captured_ms))))
    return out


def coverage_ingest(
    tiles: DataFrame,
    bbox: tuple[float, float, float, float],
    zoom: int = 14,
    start_captured_ms: int | None = None,
    end_captured_ms: int | None = None,
    **kw,
) -> DataFrame:
    """EP3 (`fetch_within_bbox(use_coverage_tiles=True)`, cloud.py:299-445):
    enumerate the zoom-``zoom`` tiles covering ``bbox`` (the reference's
    ``_bbox_to_tile_coords``, cloud.py:860-887), prune the tile table to that
    integer range (partition/file-prunable predicate), decode the tiles,
    keep in-bbox features, and de-duplicate feature ids across tiles (edge
    features appear in neighbouring tiles; the reference collects ids into a
    set, cloud.py:792-816 — here: first occurrence by (tile, px, py), a
    deterministic tie-break).
    """
    from pyspark.sql import Window

    w_, s_, e_, n_ = bbox
    nn = 2**zoom
    tx0 = max(0, min(int((w_ + 180.0) / 360.0 * nn), nn - 1))
    tx1 = max(0, min(int((e_ + 180.0) / 360.0 * nn), nn - 1))
    ty0 = max(0, min(int((1 - math.asinh(math.tan(math.radians(n_))) / math.pi) / 2 * nn), nn - 1))
    ty1 = max(0, min(int((1 - math.asinh(math.tan(math.radians(s_))) / math.pi) / 2 * nn), nn - 1))
    pruned = tiles.filter(
        (F.col("tile_z") == zoom)
        & F.col("tile_x").between(tx0, tx1)
        & F.col("tile_y").between(ty0, ty1)
    )
    feats = coverage_features(
        pruned, start_captured_ms=start_captured_ms, end_captured_ms=end_captured_ms, **kw
    ).filter(
        F.col("lon").between(w_, e_) & F.col("lat").between(s_, n_)
    )
    w = Window.partitionBy("feature_id").orderBy("tile_x", "tile_y", "px", "py")
    return (
        feats.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Encode path: points -> per-tile MVT blobs (the vector-tile BUILD pipeline)
# ---------------------------------------------------------------------------

def encode_tiles(
    points: DataFrame,
    id_col: str,
    lon: str = "lon",
    lat: str = "lat",
    zoom: int = 14,
    layer: str = "image",
    extent: int = 4096,
    prop_cols: list[str] | None = None,
    max_features_per_tile: int | None = None,
) -> DataFrame:
    """Build real MVT 2.1 tiles from a point table — the inverse of
    :func:`tile_features` and the distributed twin of the tile layers the
    reference CONSUMES (cloud.py:726-741). Output: one row per tile
    (tile_z, tile_x, tile_y, n_features, content binary).

    Plan shape: tile assignment + tile-local pixel coords are pure column
    math; the one shuffle is the groupBy(tile); the python cost is one
    ``encode_mvt`` call per TILE (output rows), not per point, so the
    Arrow-batched UDF touches ~points/tile-density rows. Skew: the optional
    ``max_features_per_tile`` cap is applied with a pre-aggregation window
    rank (tile_export precedent) so a dense urban tile bounds its agg
    buffer; encoded blob size is then bounded by construction.
    """
    from pyspark.sql.types import BinaryType
    from pyspark.sql.window import Window

    from landlensdb_spark.geo.tiles import tile_x, tile_y

    n = float(1 << zoom)
    fx = (F.col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(n)
    lat_r = F.radians(F.col(lat))
    fy = (F.lit(1.0) - F.asinh(F.tan(lat_r)) / F.lit(math.pi)) / F.lit(2.0) * F.lit(n)
    clamp = lambda c: F.least(F.greatest(c, F.lit(0)), F.lit(extent - 1))  # noqa: E731
    tagged = (
        points.withColumn("tile_z", F.lit(zoom))
        .withColumn("tile_x", tile_x(lon, zoom))
        .withColumn("tile_y", tile_y(lat, zoom))
        .withColumn(
            "_lx", clamp(F.floor((fx - F.col("tile_x")) * F.lit(float(extent)))).cast("int")
        )
        .withColumn(
            "_ly", clamp(F.floor((fy - F.col("tile_y")) * F.lit(float(extent)))).cast("int")
        )
    )
    props = prop_cols or []
    rec = F.struct(
        F.col(id_col).cast("long").alias("fid"),
        F.col("_lx").alias("lx"),
        F.col("_ly").alias("ly"),
        *[F.col(c).alias(c) for c in props],
    )
    keys = ["tile_z", "tile_x", "tile_y"]
    if max_features_per_tile is not None:
        w = Window.partitionBy(*keys).orderBy(rec.asc())
        tagged = tagged.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_features_per_tile
        )
    grouped = tagged.groupBy(*keys).agg(
        F.array_sort(F.collect_list(rec)).alias("_feats"),
        F.count("*").alias("n_features"),
    )

    @F.pandas_udf(BinaryType())
    def _enc(feats: pd.Series) -> pd.Series:
        out = []
        for fl in feats:
            features = [
                {
                    "id": int(f["fid"]),
                    "points": [(int(f["lx"]), int(f["ly"]))],
                    "props": {c: f[c] for c in props},
                }
                for f in fl
            ]
            out.append(
                encode_mvt({layer: {"extent": extent, "features": features}})
            )
        return pd.Series(out)

    return grouped.select(
        *keys, "n_features", _enc(F.col("_feats")).alias("content")
    )
