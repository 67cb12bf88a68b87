"""Table loaders + the deterministic synthetic pages generator.

``pages(spark, n)`` materializes the BASELINE.json input_hint table
``(url string, warc_ts timestamp, html binary, text string, lang string)``
as a pure function of the row index: ~80% of rows embed a geotag in the html
(70% as geo-microdata ``<meta property="place:location:latitude" ...>`` tags,
30% as an EXIF-style DMS block with rational seconds and hemisphere refs,
exercising the reference's DMS->decimal + hemisphere-sign + rational-parse
paths, image.py:140-163, :250-255, :258-292); ~20% carry no geotag and must
be filtered out (image.py:334-338 skip path). The ``text`` column is the
byte-identity oracle for extraction (FIXTURES.md §1).

Geometry layout: ``clustered=True`` sends 60% of geotagged points into 3
dense urban windows (skew exercise); otherwise coordinates are the uniform
field from :mod:`landlensdb_spark.synth` (SQL-oracle-expressible).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from landlensdb_spark import synth

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

_LANGS = ["en", "ja", "de", "fr", "pt"]
_WORDS = (
    "land lens spark tile cell snap road image point query scan join group "
    "window batch filter"
).split()

#: urban cluster centers (lon, lat): NYC, Tokyo, Paris.
CLUSTERS = [(-74.0, 40.7), (139.7, 35.7), (2.35, 48.85)]

WARC_TS_BASE = 1_640_995_200  # 2022-01-01T00:00:00Z
WARC_TS_MUL = 8951
WARC_TS_MOD = 100_000_000     # ~3.17 year span


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# deterministic per-row fields (numpy, shared by generator and pytest oracle)
# ---------------------------------------------------------------------------

def np_has_geo(i: np.ndarray) -> np.ndarray:
    return (i % 5) != 0


def np_is_exif(i: np.ndarray) -> np.ndarray:
    """Among geotagged rows, which embed the EXIF-DMS block (vs microdata)."""
    return (i % 10) == 3  # 3, 13, 23... all have i%5!=0 -> always geotagged

def np_page_coords(i: np.ndarray, clustered: bool = False):
    """(lon, lat) for row ids ``i`` (geotag value; meaningless if no geotag)."""
    i = np.asarray(i, dtype=np.int64)
    lon = synth.np_lon(i)
    lat = synth.np_lat(i)
    if clustered:
        in_cluster = (i % 10) < 6
        c = (i % 3).astype(np.int64)
        clons = np.array([c_[0] for c_ in CLUSTERS])
        clats = np.array([c_[1] for c_ in CLUSTERS])
        jlon = ((i * 69621) % 40_000 - 20_000) / 1_000_000.0
        jlat = ((i * 48271) % 40_000 - 20_000) / 1_000_000.0
        lon = np.where(in_cluster, clons[c] + jlon, lon)
        lat = np.where(in_cluster, clats[c] + jlat, lat)
    return lon, lat


def _dms_block(micro: int, is_lat: bool) -> str:
    """EXIF-style DMS rendering of an absolute micro-degree value.

    Degrees/minutes are integers; seconds are an exact rational
    ``num/1000000`` so DMS->decimal reconstruction is exact at 6 dp.
    """
    a = abs(micro)
    d = a // 1_000_000
    rem = a % 1_000_000                 # micro-degrees
    mm = rem * 60                       # micro-minutes * 1e6 scale
    m = mm // 1_000_000
    rem2 = mm % 1_000_000               # micro-minutes
    s_num = rem2 * 60                   # seconds numerator over 1e6
    if is_lat:
        ref = "N" if micro >= 0 else "S"
        tag = "GPSLatitude"
    else:
        ref = "E" if micro >= 0 else "W"
        tag = "GPSLongitude"
    return f"{tag}=({d},{m},{s_num}/1000000);{tag}Ref={ref}"


def build_page_row(i: int, clustered: bool = False) -> tuple:
    """One deterministic pages row (also the pytest generator oracle)."""
    i_arr = np.array([i], dtype=np.int64)
    has_geo = bool(np_has_geo(i_arr)[0])
    is_exif = bool(np_is_exif(i_arr)[0])
    lon, lat = np_page_coords(i_arr, clustered)
    lon_f, lat_f = float(lon[0]), float(lat[0])
    url = f"https://example.org/page/{i:08d}"
    nw = (i % 13) + 3
    text = " ".join(_WORDS[(i * 7 + j) % len(_WORDS)] for j in range(nw)) + f" p{i}"
    lang = _LANGS[i % len(_LANGS)]
    ts = WARC_TS_BASE + (i * WARC_TS_MUL) % WARC_TS_MOD

    if not has_geo:
        geo = ""
    elif is_exif:
        lat_micro = int(round(lat_f * 1_000_000))
        lon_micro = int(round(lon_f * 1_000_000))
        geo = (
            '<script type="application/x-exif">'
            + _dms_block(lat_micro, True)
            + _dms_block(lon_micro, False)
            + "</script>"
        )
    else:
        geo = (
            f'<meta property="place:location:latitude" content="{lat_f:.6f}"/>'
            f'<meta property="place:location:longitude" content="{lon_f:.6f}"/>'
        )
    html = (
        f"<html><head><title>page {i}</title>{geo}</head>"
        f'<body><p data-text="1">{text}</p></body></html>'
    ).encode("utf-8")
    return (url, ts, html, text, lang)


def pages(
    spark: SparkSession,
    n: int,
    clustered: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic pages table (mapInPandas over spark.range).

    Generation is executor-parallel and a pure function of the row id, so the
    table is identical at any partitioning/parallelism — the property the
    two-cluster-size scaling benchmark relies on.
    """
    rng = spark.range(n, numPartitions=num_partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [build_page_row(int(i), clustered) for i in pdf["id"]]
            out = pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )
            out["warc_ts"] = pd.to_datetime(out["warc_ts"], unit="s")
            yield out

    return rng.mapInPandas(gen, PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# photos: deterministic JPEG-with-real-EXIF table (byte-level extraction path)
# ---------------------------------------------------------------------------

PHOTOS_SCHEMA = "photo_id long, image_bytes binary"


def build_photo_row(i: int) -> tuple:
    """One deterministic (photo_id, jpeg bytes) row: real APP1/TIFF/GPS EXIF
    wire bytes (landlensdb_spark.exif encoder twin). Rows with i % 7 == 0
    carry no GPS IFD (the reference's GPS-less skip path); odd ids use
    big-endian TIFF so both byte orders flow through the parser."""
    from landlensdb_spark.exif import encode_jpeg_exif

    i_arr = np.array([i], dtype=np.int64)
    lon = float(synth.np_lon(i_arr)[0])
    lat = float(synth.np_lat(i_arr)[0])
    has_gps = i % 7 != 0
    jpeg = encode_jpeg_exif(
        lat=lat if has_gps else None,
        lon=lon if has_gps else None,
        focal=(((i * 37) % 5000) + 150, 100),
        model=f"CAM{i % 4}",
        dt=(
            f"2022:{1 + i % 12:02d}:{1 + i % 28:02d} "
            f"{i % 24:02d}:{(i * 11) % 60:02d}:{(i * 29) % 60:02d}"
        ),
        byte_order="MM" if i % 2 else "II",
    )
    return (i, jpeg)


def photos(spark: SparkSession, n: int, num_partitions: int | None = None) -> DataFrame:
    """Distributed deterministic photos table (pure function of the row id,
    same parallelism-independence property as ``pages``)."""
    rng = spark.range(n, numPartitions=num_partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [build_photo_row(int(i)) for i in pdf["id"]],
                columns=["photo_id", "image_bytes"],
            )

    return rng.mapInPandas(gen, PHOTOS_SCHEMA)
