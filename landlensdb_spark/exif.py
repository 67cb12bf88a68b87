"""Real EXIF decode from actual JPEG bytes — pure-python wire-format parser.

The reference reads EXIF through PIL (``Image.open(...)._getexif()`` +
nested GPSInfo, /root/reference/landlensdb/handlers/image.py:69-93,294-415).
PIL is not in this container, but EXIF is a *published* wire format
(JPEG APP1 segment -> TIFF header -> IFD entry chains -> GPS sub-IFD), so —
same move as the hand-rolled MVT protobuf parser (operators/mvt.py) — this
module implements the format directly, with an encoder twin for
self-encoded fixtures:

- :func:`parse_exif_bytes` — JPEG segment walk, APP1 ``Exif\\0\\0``, TIFF
  byte-order handling (II and MM), IFD0 -> Exif IFD (0x8769) -> GPS IFD
  (0x8825), ASCII / SHORT / LONG / RATIONAL value decode;
- :func:`gps_to_decimal` — DMS rationals + hemisphere ref -> signed decimal
  degrees, the exact float ops of the reference's conversion
  (image.py:140-163: d + m/60 + s/3600, S/W negation);
- :func:`encode_jpeg_exif` — minimal valid JPEG writer (SOI, APP1, SOS
  stub, EOI) for deterministic fixtures, in either byte order;
- :func:`extract_exif` — the Spark operator: ONE ``mapInArrow`` pass
  (``multimodal.map_rows``) over a binary image column. Byte-format walking
  is inherently per-record branchy logic, so :func:`exif_row` runs once per
  row of each Arrow batch (like the MVT decoder) — the engine-level
  contract (no shuffle, binary column never leaves the scan task,
  Arrow-batched transfer) is unchanged.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from landlensdb_spark.operators.multimodal import map_rows

# TIFF value types we decode (public spec numbering)
_T_BYTE, _T_ASCII, _T_SHORT, _T_LONG, _T_RATIONAL = 1, 2, 3, 4, 5
_TYPE_SIZE = {_T_BYTE: 1, _T_ASCII: 1, _T_SHORT: 2, _T_LONG: 4, _T_RATIONAL: 8}

# IFD0 / Exif-IFD / GPS-IFD tags used by the reference's loader
TAG_MODEL = 0x0110
TAG_EXIF_IFD = 0x8769
TAG_GPS_IFD = 0x8825
TAG_DATETIME_ORIGINAL = 0x9003
TAG_FOCAL_LENGTH = 0x920A
GPS_LAT_REF, GPS_LAT, GPS_LON_REF, GPS_LON = 0x0001, 0x0002, 0x0003, 0x0004

EXIF_COLS = (
    "lat double, lon double, focal_mm double, camera_model string, exif_dt string"
)


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

def _read_ifd(data: bytes, off: int, endian: str) -> dict[int, object]:
    """One IFD at ``off`` (relative to TIFF start) -> {tag: decoded value}."""
    out: dict[int, object] = {}
    if off + 2 > len(data):
        return out
    (count,) = struct.unpack_from(endian + "H", data, off)
    for e in range(count):
        base = off + 2 + 12 * e
        if base + 12 > len(data):
            break
        tag, typ, n = struct.unpack_from(endian + "HHI", data, base)
        size = _TYPE_SIZE.get(typ)
        if size is None:
            continue
        total = size * n
        voff = base + 8 if total <= 4 else struct.unpack_from(endian + "I", data, base + 8)[0]
        if voff + total > len(data):
            continue
        if typ == _T_ASCII:
            out[tag] = data[voff : voff + n].split(b"\x00", 1)[0].decode("ascii", "replace")
        elif typ == _T_SHORT:
            out[tag] = list(struct.unpack_from(endian + f"{n}H", data, voff))
        elif typ in (_T_LONG, _T_BYTE):
            fmt = "I" if typ == _T_LONG else "B"
            out[tag] = list(struct.unpack_from(endian + f"{n}{fmt}", data, voff))
        elif typ == _T_RATIONAL:
            vals = struct.unpack_from(endian + f"{2 * n}I", data, voff)
            out[tag] = [(vals[2 * i], vals[2 * i + 1]) for i in range(n)]
    return out


def _parse_tiff(data: bytes) -> dict[int, object] | None:
    if data[:2] == b"II":
        endian = "<"
    elif data[:2] == b"MM":
        endian = ">"
    else:
        return None
    magic, ifd0_off = struct.unpack_from(endian + "HI", data, 2)
    if magic != 42:
        return None
    tags = _read_ifd(data, ifd0_off, endian)
    exif_ptr = tags.pop(TAG_EXIF_IFD, None)
    if exif_ptr:
        tags.update(_read_ifd(data, int(exif_ptr[0]), endian))
    gps_ptr = tags.pop(TAG_GPS_IFD, None)
    if gps_ptr:
        gps = _read_ifd(data, int(gps_ptr[0]), endian)
        # keep GPS tags under a shifted namespace (GPS tag ids collide with
        # IFD0's low tag numbers)
        for t, v in gps.items():
            tags[0x10000 + t] = v
    return tags


def parse_exif_bytes(data: bytes) -> dict[int, object] | None:
    """JPEG bytes -> flat {tag: value} dict (GPS tags at 0x1000N), or None
    when the file has no parseable APP1/Exif segment."""
    if not isinstance(data, (bytes, bytearray)) or data[:2] != b"\xff\xd8":
        return None
    off = 2
    n = len(data)
    while off + 4 <= n:
        if data[off] != 0xFF:
            return None
        marker = data[off + 1]
        if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            off += 2
            continue
        if marker == 0xDA:  # start-of-scan: metadata section over
            return None
        (seglen,) = struct.unpack_from(">H", data, off + 2)
        if marker == 0xE1 and data[off + 4 : off + 10] == b"Exif\x00\x00":
            return _parse_tiff(data[off + 10 : off + 2 + seglen])
        off += 2 + seglen
    return None


def gps_to_decimal(dms: list[tuple[int, int]], ref: str, neg_ref: str) -> float | None:
    """(d, m, s) rationals + hemisphere ref -> signed decimal degrees — the
    reference's conversion ops exactly (image.py:140-163).

    A zero denominator (corrupt rational) yields None — treat as untagged —
    instead of a ZeroDivisionError that would fail the whole executor task."""
    (dn, dd), (mn, md), (sn, sd) = dms
    if dd == 0 or md == 0 or sd == 0:
        return None
    dec = dn / dd + (mn / md) / 60.0 + (sn / sd) / 3600.0
    return round(-dec if ref == neg_ref else dec, 6)


# ---------------------------------------------------------------------------
# encoder twin (fixtures)
# ---------------------------------------------------------------------------

def _deg_to_dms_rationals(micro: int) -> list[tuple[int, int]]:
    """|micro-degrees| -> ((d,1),(m,1),(s_num,1000000)): exact at 6 dp (the
    same rational scheme as the html-marker fixtures, tables.py:_dms_block)."""
    a = abs(micro)
    d = a // 1_000_000
    rem = a % 1_000_000
    mm = rem * 60
    m = mm // 1_000_000
    s_num = (mm % 1_000_000) * 60
    return [(d, 1), (m, 1), (s_num, 1_000_000)]


def _build_ifd(
    entries: list[tuple[int, int, int, bytes]], ifd_off: int, endian: str
) -> tuple[bytes, bytes]:
    """entries (tag, type, count, packed value bytes) -> (ifd bytes, data
    area bytes); long values are placed after the IFD."""
    data_off = ifd_off + 2 + 12 * len(entries) + 4  # +4 next-IFD pointer
    body = b""
    out = struct.pack(endian + "H", len(entries))
    for tag, typ, cnt, vb in sorted(entries):
        out += struct.pack(endian + "HHI", tag, typ, cnt)
        if len(vb) <= 4:
            out += vb.ljust(4, b"\x00")
        else:
            out += struct.pack(endian + "I", data_off + len(body))
            body += vb
    out += struct.pack(endian + "I", 0)  # no next IFD
    return out, body


def encode_jpeg_exif(
    lat: float | None = None,
    lon: float | None = None,
    focal: tuple[int, int] | None = None,
    model: str | None = None,
    dt: str | None = None,
    byte_order: str = "II",
) -> bytes:
    """Minimal valid JPEG carrying an APP1/Exif block with the given tags —
    deterministic fixture twin of the parser (both byte orders)."""
    endian = "<" if byte_order == "II" else ">"

    def rat(pairs: list[tuple[int, int]]) -> bytes:
        return b"".join(struct.pack(endian + "II", a, b) for a, b in pairs)

    def ascii_v(s: str) -> bytes:
        return s.encode("ascii") + b"\x00"

    gps_entries: list[tuple[int, int, int, bytes]] = []
    if lat is not None and lon is not None:
        lat_u, lon_u = int(round(lat * 1_000_000)), int(round(lon * 1_000_000))
        gps_entries = [
            (GPS_LAT_REF, _T_ASCII, 2, ascii_v("N" if lat_u >= 0 else "S")),
            (GPS_LAT, _T_RATIONAL, 3, rat(_deg_to_dms_rationals(lat_u))),
            (GPS_LON_REF, _T_ASCII, 2, ascii_v("E" if lon_u >= 0 else "W")),
            (GPS_LON, _T_RATIONAL, 3, rat(_deg_to_dms_rationals(lon_u))),
        ]
    exif_entries: list[tuple[int, int, int, bytes]] = []
    if focal is not None:
        exif_entries.append((TAG_FOCAL_LENGTH, _T_RATIONAL, 1, rat([focal])))
    if dt is not None:
        exif_entries.append((TAG_DATETIME_ORIGINAL, _T_ASCII, len(dt) + 1, ascii_v(dt)))

    # lay out: header(8) | IFD0+data | exif IFD+data | gps IFD+data
    ifd0_off = 8
    ifd0_entries: list[tuple[int, int, int, bytes]] = []
    if model is not None:
        ifd0_entries.append((TAG_MODEL, _T_ASCII, len(model) + 1, ascii_v(model)))
    # pointers filled in a second pass once sizes are known
    n0 = len(ifd0_entries) + (1 if exif_entries else 0) + (1 if gps_entries else 0)
    size0 = 2 + 12 * n0 + 4
    data0 = sum(len(vb) for _, _, _, vb in ifd0_entries if len(vb) > 4)
    exif_off = ifd0_off + size0 + data0
    size_e = (2 + 12 * len(exif_entries) + 4) if exif_entries else 0
    data_e = sum(len(vb) for _, _, _, vb in exif_entries if len(vb) > 4)
    gps_off = exif_off + size_e + data_e
    if exif_entries:
        ifd0_entries.append(
            (TAG_EXIF_IFD, _T_LONG, 1, struct.pack(endian + "I", exif_off))
        )
    if gps_entries:
        ifd0_entries.append(
            (TAG_GPS_IFD, _T_LONG, 1, struct.pack(endian + "I", gps_off))
        )
    tiff = byte_order.encode("ascii") + struct.pack(endian + "HI", 42, ifd0_off)
    ifd0, body0 = _build_ifd(ifd0_entries, ifd0_off, endian)
    tiff += ifd0 + body0
    if exif_entries:
        ifd_e, body_e = _build_ifd(exif_entries, exif_off, endian)
        tiff += ifd_e + body_e
    if gps_entries:
        ifd_g, body_g = _build_ifd(gps_entries, gps_off, endian)
        tiff += ifd_g + body_g

    app1 = b"Exif\x00\x00" + tiff
    out = b"\xff\xd8"  # SOI
    out += b"\xff\xe1" + struct.pack(">H", len(app1) + 2) + app1
    out += b"\xff\xda" + struct.pack(">H", 2)  # SOS stub (no scan payload)
    out += b"\xff\xd9"  # EOI
    return out


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

def exif_row(b: bytes | None) -> tuple:
    """Row kernel: JPEG bytes -> (lat, lon, focal_mm, camera_model,
    exif_dt); None where absent."""
    tags = parse_exif_bytes(b)
    if not tags:
        return (None, None, None, None, None)
    lat = lon = focal = None
    dms_lat = tags.get(0x10000 + GPS_LAT)
    dms_lon = tags.get(0x10000 + GPS_LON)
    if dms_lat and dms_lon:
        lat = gps_to_decimal(dms_lat, tags.get(0x10000 + GPS_LAT_REF, "N"), "S")
        lon = gps_to_decimal(dms_lon, tags.get(0x10000 + GPS_LON_REF, "E"), "W")
        if lat is None or lon is None:
            # one corrupt axis (0-denominator rational) -> the whole
            # coordinate is untagged, never a dangling half-point
            lat = lon = None
    fr = tags.get(TAG_FOCAL_LENGTH)
    if fr:
        num, den = fr[0]
        focal = num / den if den else None
    return (lat, lon, focal, tags.get(TAG_MODEL), tags.get(TAG_DATETIME_ORIGINAL))


def extract_exif(
    df: DataFrame,
    image_col: str = "image_bytes",
    drop_untagged: bool = True,
    drop_bytes: bool = True,
) -> DataFrame:
    """Attach EXIF columns decoded from real JPEG bytes (one mapInArrow
    pass, binary column dropped before anything shuffles — the byte-level
    twin of extract_geotags' html path). The untagged-row filter runs
    after the map, which is a plan barrier: the decode runs once."""
    keep = [c for c in df.columns if not (drop_bytes and c == image_col)]
    out = map_rows(df, image_col, exif_row, EXIF_COLS, keep=keep)
    if drop_untagged:
        out = out.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
    return out
