"""Vectorized geotag + text extraction from the ``html`` binary column.

The web-scale analog of the reference's EXIF loader
(/root/reference/landlensdb/handlers/image.py:294-415): where the reference
walks a directory and calls PIL per image, we scan the pages table and run
one Arrow-batched pandas UDF per partition — pandas C-level ``.str`` regex
ops, no per-row Python.

Extraction semantics re-expressed from the reference:
- geo-microdata ``<meta property="place:location:latitude" content=...>``
  float parse (the straightforward path);
- EXIF-style DMS with rational seconds ``(d,m,num/den)`` + hemisphere refs
  N/S/E/W -> decimal degrees: ``d + m/60 + (num/den)/3600`` with S/W negation
  (image.py:140-163 DMS conversion, :250-255 hemisphere sign, :258-292
  rational parse), rounded to 6 dp (micro-degree resolution);
- rows with no geotag yield NULL lat/lon and are filtered by the caller
  (image.py:334-338 skip path);
- ``text``: the byte-identical extraction contract (BASELINE.json
  input_hint) — content of the ``<p data-text="1">`` element, UTF-8.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

_TEXT_RE = r'<p data-text="1">(.*?)</p>'
_META_LAT_RE = r'<meta property="place:location:latitude" content="([^"]+)"'
_META_LON_RE = r'<meta property="place:location:longitude" content="([^"]+)"'
_DMS_LAT_RE = r"GPSLatitude=\((\d+),(\d+),(\d+)/(\d+)\);GPSLatitudeRef=([NS])"
_DMS_LON_RE = r"GPSLongitude=\((\d+),(\d+),(\d+)/(\d+)\);GPSLongitudeRef=([EW])"


def _dms_to_decimal(g: pd.DataFrame, neg_ref: str) -> pd.Series:
    """(d, m, num, den, ref) capture frame -> signed decimal degrees."""
    d = pd.to_numeric(g[0], errors="coerce")
    m = pd.to_numeric(g[1], errors="coerce")
    num = pd.to_numeric(g[2], errors="coerce")
    den = pd.to_numeric(g[3], errors="coerce")
    dec = d + m / 60.0 + (num / den) / 3600.0
    sign = pd.Series(
        np.where(g[4].fillna("").eq(neg_ref), -1.0, 1.0), index=g.index
    )
    return (dec * sign).round(6)


def extract_geotag_pdf(html: pd.Series) -> pd.DataFrame:
    """Pure-pandas extraction kernel (also the pytest unit under test).

    ``html``: Series of bytes. Returns DataFrame(lat, lon, text) with NaN
    lat/lon where no geotag is present.
    """
    s = html.map(lambda b: b.decode("utf-8") if isinstance(b, (bytes, bytearray)) else b)
    s = s.astype("string")

    text = s.str.extract(_TEXT_RE, expand=False)

    lat = pd.to_numeric(s.str.extract(_META_LAT_RE, expand=False), errors="coerce").round(6)
    lon = pd.to_numeric(s.str.extract(_META_LON_RE, expand=False), errors="coerce").round(6)

    dms_lat = s.str.extract(_DMS_LAT_RE)
    has_dms = dms_lat[0].notna()
    if has_dms.any():
        dms_lon = s.str.extract(_DMS_LON_RE)
        lat = lat.where(~has_dms, _dms_to_decimal(dms_lat, "S"))
        lon = lon.where(~has_dms, _dms_to_decimal(dms_lon, "W"))

    return pd.DataFrame(
        {"lat": lat.astype("float64"), "lon": lon.astype("float64"), "text": text}
    )


def extract_geotag_pa(s, with_text: bool = True) -> tuple:
    """Arrow-array extraction core: ``s`` is a ``pyarrow`` string array.

    Returns ``(lat, lon, text)`` — lat/lon as float64 numpy arrays (NaN for
    untagged rows), ``text`` an Arrow string array (None when
    ``with_text=False``). Shared by the pandas-facing
    :func:`extract_geotag_arrow` and the ``mapInArrow`` operators
    (:func:`extract_geotags`, ``operators.fused.extract_pip``), which hand
    the Spark-delivered Arrow column straight here — no pandas
    materialization of the (dominant) html payload on the input side.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    f = pc.struct_field
    text = (
        f(pc.extract_regex(s, r'<p data-text="1">(?P<t>.*?)</p>'), "t")
        if with_text
        else None
    )
    mlat = pc.extract_regex(
        s, r'<meta property="place:location:latitude" content="(?P<v>[^"]+)"'
    )
    mlon = pc.extract_regex(
        s, r'<meta property="place:location:longitude" content="(?P<v>[^"]+)"'
    )
    dlat = pc.extract_regex(
        s,
        r"GPSLatitude=\((?P<d>\d+),(?P<m>\d+),(?P<n>\d+)/(?P<q>\d+)\);"
        r"GPSLatitudeRef=(?P<r>[NS])",
    )
    dlon = pc.extract_regex(
        s,
        r"GPSLongitude=\((?P<d>\d+),(?P<m>\d+),(?P<n>\d+)/(?P<q>\d+)\);"
        r"GPSLongitudeRef=(?P<r>[EW])",
    )

    def _num(sa, field):
        return pc.cast(f(sa, field), pa.float64()).to_numpy(zero_copy_only=False)

    lat = np.round(_num(mlat, "v"), 6)
    lon = np.round(_num(mlon, "v"), 6)

    def _dms(sa, neg_ref):
        d, m = _num(sa, "d"), _num(sa, "m")
        num, den = _num(sa, "n"), _num(sa, "q")
        ref = f(sa, "r").to_numpy(zero_copy_only=False)
        # a 0/0 seconds fraction is NaN: the per-coordinate fallback below
        with np.errstate(invalid="ignore"):
            dec = d + m / 60.0 + (num / den) / 3600.0
        return np.round(np.where(ref == neg_ref, -dec, dec), 6)

    dms_lat, dms_lon = _dms(dlat, "S"), _dms(dlon, "W")
    lat = np.where(np.isnan(dms_lat), lat, dms_lat)
    lon = np.where(np.isnan(dms_lon), lon, dms_lon)
    return lat, lon, text


def extract_geotag_arrow(html: pd.Series, with_text: bool = True) -> pd.DataFrame:
    """RE2-vectorized extraction kernel (pyarrow.compute) — same contract as
    :func:`extract_geotag_pdf` (the pytest oracle asserts identical output).

    pandas ``.str.extract`` loops Python's ``re`` per row; Arrow's
    ``extract_regex`` runs RE2 over the whole column in C++, and the
    binary->string cast replaces the per-row ``bytes.decode`` lambda. This is
    the hot path at 100 TB: the UDF budget is regex over every page.
    ``with_text=False`` skips the text regex pass entirely (geo-only
    pipelines: one fewer full-column RE2 scan and no string payload back).
    """
    import pyarrow as pa

    arr = pa.array(html.values, type=pa.binary())
    s = arr.cast(pa.string())
    lat, lon, text = extract_geotag_pa(s, with_text=with_text)
    out = {"lat": lat, "lon": lon}
    if with_text:
        out["text"] = text.to_pandas()
    return pd.DataFrame(out)


def extract_geotags(
    df: DataFrame,
    html: str = "html",
    drop_untagged: bool = True,
    drop_html: bool = True,
    with_text: bool = True,
    keep: list[str] | None = None,
) -> DataFrame:
    """Attach ``lat``/``lon``/``text_extracted`` columns extracted from ``html``.

    ``drop_untagged=True`` filters rows with no geotag (the reference skips
    GPS-less images, image.py:334-338). Implemented as ONE ``mapInArrow``
    pass: the untagged-row filter runs inside the same Arrow batch, and the
    map acts as a plan barrier so Catalyst cannot push a filter beneath the
    projection and re-evaluate the (expensive) extraction twice — the
    double-ArrowEvalPython plan the naive withColumn+filter formulation
    produces. mapInArrow (not mapInPandas) so the html payload is never
    materialized as per-row Python bytes objects: the Spark-delivered
    Arrow binary column feeds the RE2 kernel directly and the output is
    an Arrow ``take`` of the pass-through columns (measured r08: the
    pandas round-trip alone cost ~0.16s/600k rows on 8 cores). ``drop_html=True`` drops the heavy binary column on output so
    downstream shuffles never carry it. ``with_text=False`` omits
    ``text_extracted`` — geo-only pipelines skip one full-column regex pass
    AND the (dominant) Python->JVM string transfer; mapInPandas is a plan
    barrier, so Catalyst cannot column-prune through it and the caller must
    ask for the narrow output explicitly.

    ``keep`` restricts the pass-through columns: mapInPandas serializes
    every INPUT column across the Arrow boundary, so narrow pipelines
    (e.g. url-only tiling) should name just what they need — the heavy
    ``text`` column otherwise rides the transfer both ways for nothing.
    """
    from collections.abc import Iterator

    if keep is not None:
        unknown = sorted(set(keep) - {f.name for f in df.schema.fields})
        if unknown:  # loud: a typo must not silently narrow the output
            raise ValueError(f"keep= names not in the input schema: {unknown}")
    fields = [
        f
        for f in df.schema.fields
        if (keep is None and not (drop_html and f.name == html))
        or (keep is not None and f.name in keep)
    ]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in fields]
        + ["lat double", "lon double"]
        + (["text_extracted string"] if with_text else [])
    )
    keep_names = [f.name for f in fields]
    if keep is not None:  # prune the Arrow transfer, not just the output
        df = df.select(*keep_names, html) if html not in keep_names else (
            df.select(*keep_names)
        )

    def _extract(batches):
        import pyarrow as pa

        for b in batches:
            col = b.column(b.schema.get_field_index(html))
            s = col.cast(pa.string()) if pa.types.is_binary(col.type) else col
            lat, lon, text = extract_geotag_pa(s, with_text=with_text)
            tb = pa.Table.from_batches([b]).select(keep_names)
            # from_pandas=True: NaN -> null, matching the pandas-path
            # semantics this operator always had for untagged rows
            lat_pa = pa.array(lat, type=pa.float64(), from_pandas=True)
            lon_pa = pa.array(lon, type=pa.float64(), from_pandas=True)
            if drop_untagged:
                sel = pa.array(np.flatnonzero(~(np.isnan(lat) | np.isnan(lon))))
                tb = tb.take(sel)
                lat_pa, lon_pa = lat_pa.take(sel), lon_pa.take(sel)
                if with_text:
                    text = text.take(sel)
            tb = tb.append_column("lat", lat_pa).append_column("lon", lon_pa)
            if with_text:
                tb = tb.append_column("text_extracted", text)
            yield from tb.combine_chunks().to_batches()

    return df.mapInArrow(_extract, out_schema)
