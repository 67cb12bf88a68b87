"""WARC (ISO 28500) record scan — the web-corpus container source.

Common-Crawl-style corpora arrive as WARC files: concatenated records,
each a ``WARC/1.0`` status line, CRLF header block, empty line, then a
``Content-Length``-delimited payload and a blank-line separator. The
format is public; this module implements a dependency-free parser plus an
encoder twin (fixtures + the oracle-checked round-trip, the same pattern
as the MVT and EXIF wire codecs in this repo).

Scale shape: WARC members are read as whole binary blobs
(``spark.read.format("binaryFile")`` on .warc segments — Common Crawl
ships ~1 GB segments, a natural Spark split), and record extraction is one
Arrow ``map_batches`` pass that explodes each blob into its records; the
other columns are taken by row index. Python cost is per RECORD (header
parse + slice), payloads are never copied more than once, and the stage
composes with the html-extraction stage downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from landlensdb_spark.operators.multimodal import map_batches

RECORD_SCHEMA = (
    "warc_type string, target_uri string, warc_date string, "
    "content_type string, content_length long, payload binary"
)

_CRLF = b"\r\n"
_SEP = _CRLF + _CRLF

# Field names of RECORD_SCHEMA, in schema order (single source of truth for
# the operator's output columns and the collision check).
_RECORD_FIELDS = (
    "warc_type",
    "target_uri",
    "warc_date",
    "content_type",
    "content_length",
    "payload",
)


def build_warc(records: list[dict]) -> bytes:
    """Encoder twin: records -> WARC bytes. Each record dict needs
    ``warc_type``, ``payload`` (bytes) and optionally ``target_uri``,
    ``warc_date``, ``content_type``."""
    out = bytearray()
    for r in records:
        payload = r["payload"]
        headers = [
            b"WARC/1.0",
            b"WARC-Type: " + r["warc_type"].encode(),
        ]
        if r.get("target_uri"):
            headers.append(b"WARC-Target-URI: " + r["target_uri"].encode())
        if r.get("warc_date"):
            headers.append(b"WARC-Date: " + r["warc_date"].encode())
        if r.get("content_type"):
            headers.append(b"Content-Type: " + r["content_type"].encode())
        headers.append(b"Content-Length: " + str(len(payload)).encode())
        out += _CRLF.join(headers) + _CRLF + _CRLF + payload + _CRLF + _CRLF
    return bytes(out)


def parse_warc_bytes(blob: bytes) -> list[dict]:
    """WARC bytes -> record dicts (RECORD_SCHEMA fields).

    Tolerant of trailing garbage after the last separator; raises
    ValueError on a malformed record (missing/negative Content-Length,
    undecodable header bytes, truncated payload, bad record separator) so
    corrupt segments fail loudly rather than mis-slice payloads."""
    records = []
    i, n = 0, len(blob)
    while i < n:
        if blob[i : i + 5] != b"WARC/":
            break  # trailing padding/garbage
        hdr_end = blob.find(_SEP, i)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        for line in blob[i:hdr_end].split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            try:
                headers[k.strip().lower().decode()] = v.strip().decode()
            except UnicodeDecodeError as e:
                raise ValueError(f"undecodable WARC header line {line[:80]!r}") from e
        if "content-length" not in headers:
            raise ValueError("WARC record missing Content-Length")
        length = int(headers["content-length"])
        if length < 0:
            raise ValueError(f"WARC record with negative Content-Length {length}")
        payload_start = hdr_end + 4
        payload_end = payload_start + length
        if payload_end > n:
            raise ValueError(
                f"truncated WARC record: Content-Length {length} but only "
                f"{n - payload_start} payload bytes left"
            )
        sep = blob[payload_end : payload_end + 4]
        if sep and sep != _SEP:
            # a wrong Content-Length or non-CRLF framing would otherwise
            # silently drop every record after this one as "trailing garbage"
            raise ValueError(f"bad WARC record separator {sep!r}")
        payload = blob[payload_start:payload_end]
        records.append(
            {
                "warc_type": headers.get("warc-type", ""),
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_type": headers.get("content-type"),
                "content_length": length,
                "payload": payload,
            }
        )
        i = payload_end + 4  # skip payload + blank-line separator
    return records


def warc_records(df: DataFrame, blob_col: str = "content") -> DataFrame:
    """Explode WARC segment blobs into one row per record (keeps all other
    columns of ``df``, e.g. the segment path from binaryFile)."""
    keep = [c for c in df.columns if c != blob_col]
    clash = sorted(set(keep) & set(_RECORD_FIELDS))
    if clash:
        raise ValueError(f"input columns collide with WARC record fields: {clash}")

    def _parse(blobs):
        recs = [parse_warc_bytes(b) for b in blobs.to_pylist()]
        flat = [r for rs in recs for r in rs]
        idx = [i for i, rs in enumerate(recs) for _ in rs]
        return [idx] + [[r[f] for r in flat] for f in _RECORD_FIELDS]

    return map_batches(df, [blob_col], _parse, RECORD_SCHEMA, keep)
